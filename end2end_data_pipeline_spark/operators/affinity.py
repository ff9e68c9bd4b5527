"""Affinity / co-occurrence operators: session path mining, string
near-duplicate pairs, market-basket lift, and the embedding-similarity
threshold sweep — the "what goes with what" family over the event,
part, and embedding tables.

Shared scale posture: NOTHING here is all-pairs. Pair generation is
always keyed (session, order, LSH bucket, brand+size block) so the
candidate count is sum-of-block-squares with bounded or capped
blocks, never |table|².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from end2end_data_pipeline_spark.functions import texthash as th
from end2end_data_pipeline_spark.functions import vectors as vec
from end2end_data_pipeline_spark.operators.event_analytics import (
    SESSION_GAP_MINUTES,
    _sessionized,
)
from end2end_data_pipeline_spark.operators.similarity import (
    _CAPPED_BUCKETS_SQL,
    _capped_lsh_pairs,
    _qbase_sql,
)
from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import (
    frame_memo_tag,
    load_table,
    session_cached,
    session_checkpointed,
)

PATH_LEN = 3
TOP_PATHS = 20


@query(
    "session_top_paths",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w
                          > INTERVAL {SESSION_GAP_MINUTES} MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
      ) AS sid FROM gaps
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, sid ORDER BY ts, event_id
      ) AS rn FROM sess
    ), paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= {PATH_LEN} GROUP BY user_id, sid
    )
    SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT {TOP_PATHS}
    """,
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session-opening paths: the first {PATH_LEN} event types of
    each gap-based session (same {GAP}-minute sessionization as
    ``event_sessionization``), joined into a 'view>click>purchase'
    path string and ranked by frequency — the sequence-mining staple
    behind funnel design.

    Scale: one user_id shuffle serves the lag window, the running
    session index, and the per-session rank; each session then
    collapses to ONE bounded row (<= {PATH_LEN} types) before the
    path rollup, whose key space is O(|event_types|^{PATH_LEN}),
    tiny. The collect_list is bounded at {PATH_LEN} elements by the
    rank filter — never a whole-session materialization."""
    sess = _sessionized(load_table(spark, sf_dir, "events"))
    wr = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    ranked = sess.withColumn("rn", F.row_number().over(wr)).where(
        F.col("rn") <= PATH_LEN
    )
    paths = ranked.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(TOP_PATHS)
    )


session_top_paths.__doc__ = session_top_paths.__doc__.replace(
    "{PATH_LEN}", str(PATH_LEN)
).replace("{GAP}", str(SESSION_GAP_MINUTES))

TYPO_MAX_DIST = 4


@query(
    "part_name_typo_pairs",
    oracle=f"""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {TYPO_MAX_DIST}
    ORDER BY edit_dist, part_a, part_b
    """,
)
def part_name_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String near-duplicate detection via blocked edit distance:
    part-name pairs within {TYPO_MAX_DIST} edits, candidates blocked
    on (brand, size) equality — the entity-resolution / catalog-dedup
    primitive (typos, rewordings) that exact-hash dedup misses.

    Scale: the block key turns the O(n²) name-pair space into a
    sum-of-block-squares equi-join (same discipline as the LSH-banded
    text dedup); levenshtein is a JVM builtin evaluated only on
    in-block candidates. Skewed blocks are AQE's skew-join case; a
    production run adds a block-size cap exactly like
    ``LSH_BUCKET_CAP``."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    a = p.alias("a")
    b = p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        pairs.where(dist <= TYPO_MAX_DIST)
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("int").alias("edit_dist"),
        )
        .orderBy("edit_dist", "part_a", "part_b")
    )


part_name_typo_pairs.__doc__ = part_name_typo_pairs.__doc__.replace(
    "{TYPO_MAX_DIST}", str(TYPO_MAX_DIST)
)

MIN_SUPPORT = 2
TOP_PAIRS = 50


def _copurchase_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached DISTINCT (l_orderkey, l_partkey) incidence — the
    §8 "lightweight proxy" (two bigints per row) every co-purchase
    operator decides from. Cached ONCE per (session, sf_dir): the r12
    lift plan computed it FOUR times (AQE broadcast one self-join
    side, which killed exchange reuse) and scanned lineitem a fifth
    time for the order total; n_orders over op == over lineitem
    because DISTINCT (orderkey, partkey) preserves the orderkey set.
    An InMemoryRelation (not a checkpoint — the r13 A/B measured the
    eager-checkpoint variant a wash, its barriers costing what the
    dedup saved) keeps Catalyst statistics, so the pair self-join
    still plans its broadcasts."""
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "copurchase_op"),
        lambda: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The support-filtered co-purchase PAIR list (part_a < part_b,
    n_both >= MIN_SUPPORT) — materialized ONCE per (session, sf_dir)
    and shared by the whole family: lift reads it verbatim, triangles
    projects the edge columns, and ``copurchase_sym_edges`` (LPA /
    k-core / assortativity) symmetrizes it. Before r14 the order-keyed
    self-join + groupBy executed independently inside lift, triangles
    AND sym_edges (three builds per session of the same frame).

    Two deliberate shape choices, both measured (r14 A/B, one
    session, interleaved):
    - The self-join carries a ``merge`` hint: with the cached
      incidence's ~10 MB statistics the planner otherwise BROADCASTS
      one self-join side — the whole corpus proxy, rebuilt as a new
      broadcast on every execution (lift first-exec 7.5 s vs 2.4 s
      hinted; at 100 TB a corpus-sized broadcast is simply wrong).
      The hinted form shuffles op once on l_orderkey and both sides
      ride the SAME exchange (ReusedExchange), which is what this
      operator's scale contract always claimed.
    - ``session_checkpointed`` (eager DISK_ONLY), not .cache(): six
      consumers re-ANALYZE this subtree per invocation; the
      checkpoint turns it into a LogicalRDD leaf, which is what
      collapsed the k-core plan from 234k lines to 4 leaves. Stats
      loss is harmless here — every downstream join puts the pair
      list on the probe side (the build sides are O(|parts|)
      aggregates with their own stats).
    """
    op = _copurchase_op(spark, sf_dir)
    a = op.alias("a").hint("merge")
    b = op.alias("b").hint("merge")
    return session_checkpointed(
        spark,
        frame_memo_tag(sf_dir, "copurchase_pairs"),
        lambda: a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= MIN_SUPPORT),
    )


@query(
    "part_copurchase_lift",
    oracle=f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), tot AS (
      SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem
    ), pc AS (
      SELECT l_partkey, count(*) AS n_ord FROM op GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_both
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
    )
    SELECT part_a, part_b, CAST(n_both AS BIGINT) AS n_both,
           CAST(ca.n_ord AS BIGINT) AS n_a, CAST(cb.n_ord AS BIGINT) AS n_b,
           (CAST(n_both AS DOUBLE) * CAST(tot.n_orders AS DOUBLE))
             / (CAST(ca.n_ord AS DOUBLE) * CAST(cb.n_ord AS DOUBLE))
               AS lift
    FROM pairs
    JOIN pc ca ON part_a = ca.l_partkey
    JOIN pc cb ON part_b = cb.l_partkey
    CROSS JOIN tot
    ORDER BY n_both DESC, part_a, part_b LIMIT {TOP_PAIRS}
    """,
)
def part_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-occurring in >=
    {MIN_SUPPORT} orders, with support counts and lift
    (P(a,b)/P(a)P(b), computed cast-first over exact integer counts —
    each double op identical in order on both engines, so the DOUBLE
    is bit-stable). The recommendation/bundling staple.

    Scale: pair generation is keyed on the order — the self-join
    shuffles op once on l_orderkey (both sides are the same exchange,
    reused) and fans out O(k²/2) per order where k is the bounded
    order size (~7 in TPC-H), i.e. linear in lineitem. The per-part
    counts join is on the pair table AFTER the support filter."""
    op = _copurchase_op(spark, sf_dir)
    tot = op.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    pc = op.groupBy("l_partkey").agg(F.count("*").alias("n_ord"))
    # pair generation shared with triangles / sym_edges — see
    # _copurchase_pairs for the merge-hint + checkpoint rationale
    pairs = _copurchase_pairs(spark, sf_dir)
    ca = pc.select(
        F.col("l_partkey").alias("part_a"), F.col("n_ord").alias("n_a")
    )
    cb = pc.select(
        F.col("l_partkey").alias("part_b"), F.col("n_ord").alias("n_b")
    )
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            # count products in DOUBLE cast-first on both engines (r13
            # overflow audit): n_a * n_b <= n_orders^2 crosses int64
            # near 3e9 orders (~sf2000); the counts themselves stay
            # exact int64 at any plausible scale.
            (
                (F.col("n_both").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("n_both").desc(), "part_a", "part_b")
        .limit(TOP_PAIRS)
    )


part_copurchase_lift.__doc__ = part_copurchase_lift.__doc__.replace(
    "{MIN_SUPPORT}", str(MIN_SUPPORT)
)

SWEEP_PCTS = (20, 25, 30, 35)


def _sweep_oracle() -> str:
    cos = vec.cosine_q("a.qv", "b.qv", "a.norm2", "b.norm2", th.DUCK)
    ge = ", ".join(
        f"CAST(SUM(CASE WHEN cosine * 100 >= {p} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS ge_{p}"
        for p in SWEEP_PCTS
    )
    arms = " UNION ALL ".join(
        f"SELECT {p} AS threshold_pct, ge_{p} AS n_pairs, n_candidates FROM s"
        for p in SWEEP_PCTS
    )
    return (
        _qbase_sql()
        + _CAPPED_BUCKETS_SQL
        + f""", cand AS (
      SELECT {cos} AS cosine
      FROM capped a JOIN capped b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), s AS (
      SELECT count(*) AS n_candidates, {ge} FROM cand
    )
    {arms} ORDER BY threshold_pct
    """
    )


@query("embedding_threshold_sweep", oracle=_sweep_oracle())
def embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate threshold dial: how many candidate pairs (from
    the SAME capped-LSH-bucket machinery as
    ``dedup_embedding_neardup``) clear each cosine threshold — the
    diagnostic you run before choosing the dedup cutoff on a new
    corpus, companion to ``dedup_band_stats`` on the MinHash side.

    Scale: candidates come from the capped bucket equi-join (never
    all-pairs); the sweep itself is ONE pass over candidates with a
    conditional sum per threshold (no fanout, no extra join), then a
    driver-trivial unpivot of the 1-row aggregate."""
    cand = _capped_lsh_pairs(spark, sf_dir)
    # when/otherwise(0), not a bare boolean cast: a candidate pair of
    # NULL-embedding vectors has NULL cosine, and the oracle's
    # CASE ... ELSE 0 counts it as below-threshold; a bare cast would
    # sum the NULLs to NULL (r13 null-flood sweep)
    aggs = [F.count("*").alias("n_candidates")] + [
        F.sum(F.when(F.col("cosine") * 100 >= p, 1).otherwise(0))
        .cast("bigint")
        .alias(f"ge_{p}")
        for p in SWEEP_PCTS
    ]
    s = cand.agg(*aggs)
    arms = F.array(
        *[
            F.struct(
                F.lit(p).alias("threshold_pct"),
                F.col(f"ge_{p}").alias("n_pairs"),
            )
            for p in SWEEP_PCTS
        ]
    )
    return (
        s.select("n_candidates", F.explode(arms).alias("t"))
        .select("t.threshold_pct", "t.n_pairs", "n_candidates")
        .orderBy("threshold_pct")
    )


@query(
    "sessions_markov_transitions",
    # Laplace-smoothed probabilities are single divisions of exact
    # integers ((c+1) / (row_total+V)), so zero cells and observed
    # cells alike hash identically across engines. The grid completion
    # (distinct types x distinct types) makes the matrix total — every
    # from->to cell present even at count 0.
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w
                          > INTERVAL {SESSION_GAP_MINUTES} MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
      ) AS sid FROM gaps
    ), trans AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id, sid ORDER BY ts, event_id
             ) AS to_type
      FROM sess
    ), counts AS (
      SELECT from_type, to_type, count(*) AS c
      FROM trans WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    ), types AS (
      SELECT DISTINCT event_type AS t FROM events
    ), grid AS (
      SELECT a.t AS from_type, b.t AS to_type,
             CAST((SELECT count(*) FROM types) AS BIGINT) AS v
      FROM types a CROSS JOIN types b
    ), cells AS (
      SELECT g.from_type, g.to_type, g.v,
             CAST(COALESCE(c.c, 0) AS BIGINT) AS c
      FROM grid g LEFT JOIN counts c
        ON g.from_type = c.from_type AND g.to_type = c.to_type
    ), rowtot AS (
      SELECT *, CAST(SUM(c) OVER (PARTITION BY from_type) AS BIGINT)
                    AS row_total
      FROM cells
    )
    SELECT from_type, to_type, c AS n,
           CAST(c + 1 AS DOUBLE) / (row_total + v) AS smoothed_prob
    FROM rowtot ORDER BY from_type, to_type
    """,
)
def sessions_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-bounded Markov transition matrix with Laplace
    smoothing: event-type transitions counted only WITHIN a
    {GAP}-minute-gap session (unlike ``event_transition_matrix``,
    which chains across a user's whole history), the from x to grid
    completed so unobserved transitions appear at count 0, and
    probabilities add-one smoothed — the estimator a next-action model
    actually consumes, where impossible-looking transitions keep small
    nonzero mass.

    Scale: the one user_id shuffle drives sessionization and the
    per-session lead; counts collapse to O(types^2). The grid is a
    crossJoin of two O(types) distinct lists (broadcast, waived in
    ``tools/plan_audit.py``) left-joined to the counts — matrix size
    is independent of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    sess = _sessionized(ev)
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    counts = (
        sess.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(ws).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("c"))
    )
    # O(|types|) frame used three times (both grid axes + V) —
    # session-cached so the grid completion costs ONE column-pruned
    # pass over the fact, not three, and repeats share ONE
    # InMemoryRelation. coalesce(1): the cached build runs outside
    # AQE's partition coalescing, so without it the 5-row distinct
    # materializes as 200 near-empty tasks.
    types = session_cached(
        spark,
        frame_memo_tag(sf_dir, "markov_types"),
        lambda: ev.select(F.col("event_type").alias("t")).distinct().coalesce(1),
    )
    v = types.agg(F.count("*").cast("bigint").alias("v"))
    grid = (
        types.select(F.col("t").alias("from_type"))
        .crossJoin(F.broadcast(types.select(F.col("t").alias("to_type"))))
        .crossJoin(F.broadcast(v))
    )
    cells = grid.join(counts, ["from_type", "to_type"], "left").select(
        "from_type",
        "to_type",
        "v",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
    )
    wr = Window.partitionBy("from_type")
    return (
        cells.withColumn(
            "row_total", F.sum("c").over(wr).cast("bigint")
        )
        .select(
            "from_type",
            "to_type",
            F.col("c").alias("n"),
            (
                (F.col("c") + 1).cast("double")
                / (F.col("row_total") + F.col("v"))
            ).alias("smoothed_prob"),
        )
        .orderBy("from_type", "to_type")
    )


sessions_markov_transitions.__doc__ = sessions_markov_transitions.__doc__.replace(
    "{GAP}", str(SESSION_GAP_MINUTES)
)


TRI_TOP_NODES = 50


@query(
    "part_copurchase_triangles",
    # Oracle = the naive exact form: triangles enumerated once as
    # a < b < c over the undirected support-filtered edge set via a
    # triple self-join, then per-corner counts. The engine reaches the
    # SAME exact answer through degree-ordered orientation (the
    # standard distributed-triangle trick), so the comparison proves
    # the optimization changes nothing.
    oracle=f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
    ), tri AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM edges e1
      JOIN edges e2 ON e2.pa = e1.pb
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ), corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT CAST(node AS BIGINT) AS node,
           count(*) AS n_triangles
    FROM corners GROUP BY node
    ORDER BY n_triangles DESC, node LIMIT {TRI_TOP_NODES}
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting on the co-purchase graph (parts as
    nodes, >= {MIN_SUPPORT}-order co-occurrence as edges) via
    degree-ordered orientation: orient every edge from its lower-
    (degree, id) endpoint to the higher, build wedges only at the low
    end, close them against the oriented edge list. Per-node triangle
    membership is the clustering-coefficient numerator / community
    signal bundling models consume.

    Scale: orientation bounds per-node out-degree so wedge count is
    O(E^1.5) worst case instead of sum-of-degree-squares — the hub
    node that breaks naive wedge counting (celebrity part in every
    order) generates NO wedges because its edges all point inward.
    The edge list is support-filtered and session-cached (O(edges),
    built from one keyed self-join); every join after that is keyed
    on node ids. The oracle's naive triple self-join is the form that
    dies at scale; both produce identical exact counts."""
    # a cached projection of the family-shared materialized pair list
    # (the pre-r14 edge cache was the same frame BUILT a second time;
    # now it is one map-only read of the checkpoint). The thin cache
    # layer matters: the checkpoint is a stats-less LogicalRDD, and
    # without size statistics the planner sort-merges the degree
    # attach and the closing-edge probe (measured 15.2 s vs 2.1 s);
    # the InMemoryRelation carries its real materialized size, so the
    # O(|nodes|) degree frames broadcast here at bench scale while a
    # 100 TB edge list — whose true cached size exceeds the broadcast
    # threshold — correctly falls back to shuffled joins.
    edges = session_cached(
        spark,
        frame_memo_tag(sf_dir, "copurchase_dir_edges"),
        lambda: _copurchase_pairs(spark, sf_dir).select(
            F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
        ),
    )
    deg = (
        edges.select(F.explode(F.array("pa", "pb")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("pb"), F.col("deg").alias("deg_b"))
    withdeg = edges.join(da, "pa").join(db, "pb")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("pa") < F.col("pb"))
    )
    oriented = withdeg.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
            "ddeg"
        ),
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    # wedge pairs ordered by the SAME (deg, id) total order the
    # orientation uses, so the closing edge - if present - is oriented
    # exactly e1.dst -> e2.dst
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            (F.col("e1.ddeg") < F.col("e2.ddeg"))
            | (
                (F.col("e1.ddeg") == F.col("e2.ddeg"))
                & (F.col("e1.dst") < F.col("e2.dst"))
            )
        ),
    ).select(
        F.col("e1.src").alias("u"),
        F.col("e1.dst").alias("v"),
        F.col("e2.dst").alias("w"),
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"])
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy(F.col("node").cast("bigint").alias("node"))
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(TRI_TOP_NODES)
    )


# --- item-item collaborative filtering -------------------------------

CF_DEGREE_CAP = 20  # parts kept per customer (top by buy count, tie partkey)
CF_MIN_CO = 2  # neighbor support floor (shared customers)
CF_TOP_K = 3  # neighbors kept per part
CF_TOP_N = 100  # rows returned overall

_CF_ORACLE = f"""
    WITH buys AS (
      SELECT o_custkey AS c, l_partkey AS p, count(*) AS n_buy
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ), capped AS (
      SELECT c, p FROM (
        SELECT c, p,
               ROW_NUMBER() OVER (PARTITION BY c
                                  ORDER BY n_buy DESC, p) AS rnk
        FROM buys
      ) WHERE rnk <= {CF_DEGREE_CAP}
    ), deg AS (
      SELECT p, count(*) AS n_cust FROM capped GROUP BY p
    ), pairs AS (
      SELECT a.p AS pa, b.p AS pb, count(*) AS co
      FROM capped a JOIN capped b ON a.c = b.c AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {CF_MIN_CO}
    ), sym AS (
      SELECT pa AS part_a, pb AS part_b, co FROM pairs
      UNION ALL
      SELECT pb AS part_a, pa AS part_b, co FROM pairs
    ), scored AS (
      SELECT part_a, part_b, CAST(co AS BIGINT) AS co,
             CAST(da.n_cust AS BIGINT) AS n_a,
             CAST(db.n_cust AS BIGINT) AS n_b,
             CAST(co AS DOUBLE)
               / sqrt(CAST(da.n_cust * db.n_cust AS DOUBLE)) AS cosine
      FROM sym
      JOIN deg da ON part_a = da.p
      JOIN deg db ON part_b = db.p
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY part_a
                                        ORDER BY cosine DESC, part_b)
                     AS BIGINT) AS nbr_rank
      FROM scored
    )
    SELECT part_a, part_b, co, n_a, n_b, cosine, nbr_rank
    FROM ranked WHERE nbr_rank <= {CF_TOP_K}
    ORDER BY cosine DESC, part_a, part_b LIMIT {CF_TOP_N}
    """


@query("part_itemitem_cosine_topk", oracle=_CF_ORACLE)
def part_itemitem_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: per-part top-{CF_TOP_K}
    neighbor lists ranked by cosine similarity over the binary
    customer-incidence vectors (co-buyers / sqrt(|buyers_a|*|buyers_b|))
    — the "customers who bought this also bought" serving table, the
    normalized complement of ``part_copurchase_lift``'s raw lift. The
    cosine is one division of exact integers (sqrt and divide are
    IEEE-correctly-rounded on both engines), so the DOUBLE is
    bit-stable.

    Scale: the classic CF skew killer is the whale customer whose
    basket fans out quadratically; here every customer's part set is
    capped at its top-{CF_DEGREE_CAP} parts by buy count (rank
    deterministic, identical on both engines), so pair generation is
    sum-of-min(deg,cap)^2 — linear in customers, never |parts|^2. The
    self-join shuffles the capped incidence once on the customer key;
    degree counts join AFTER the support filter prunes the pair table."""
    # session_cached: the capped incidence feeds the self-join and both
    # degree branches (12 FileScans without it), and repeated
    # invocations (bench repeat=N, sweeps) must reuse ONE
    # InMemoryRelation. Bounded: <= CF_DEGREE_CAP rows per customer.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    buys = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .agg(F.count("*").alias("n_buy"))
    )
    wcap = Window.partitionBy("c").orderBy(F.col("n_buy").desc(), "p")
    capped = session_cached(
        spark,
        frame_memo_tag(sf_dir, "cf_capped"),
        lambda: buys.withColumn("rnk", F.row_number().over(wcap))
        .where(F.col("rnk") <= CF_DEGREE_CAP)
        .select("c", "p")
        .coalesce(8),
    )
    deg = capped.groupBy("p").agg(F.count("*").alias("n_cust"))
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count("*").alias("co"))
        .where(F.col("co") >= CF_MIN_CO)
    )
    # symmetrize by exploding a 2-array of structs — a self-union
    # would plan the quadratic pair-generation subtree twice (the
    # LPA/triangles lesson, caught again by this round's code review)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("part_a"),
                    F.col("pb").alias("part_b"),
                    F.col("co"),
                ),
                F.struct(
                    F.col("pb").alias("part_a"),
                    F.col("pa").alias("part_b"),
                    F.col("co"),
                ),
            )
        ).alias("e")
    ).select("e.part_a", "e.part_b", "e.co")
    da = deg.select(F.col("p").alias("part_a"), F.col("n_cust").alias("n_a"))
    db = deg.select(F.col("p").alias("part_b"), F.col("n_cust").alias("n_b"))
    scored = (
        sym.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("co").cast("bigint").alias("co"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (
                F.col("co").cast("double")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
            ).alias("cosine"),
        )
    )
    wnbr = Window.partitionBy("part_a").orderBy(F.col("cosine").desc(), "part_b")
    return (
        scored.withColumn(
            "nbr_rank", F.row_number().over(wnbr).cast("bigint")
        )
        .where(F.col("nbr_rank") <= CF_TOP_K)
        .orderBy(F.col("cosine").desc(), "part_a", "part_b")
        .limit(CF_TOP_N)
    )


part_itemitem_cosine_topk.__doc__ = (
    part_itemitem_cosine_topk.__doc__ or ""
).replace("{CF_TOP_K}", str(CF_TOP_K)).replace(
    "{CF_DEGREE_CAP}", str(CF_DEGREE_CAP)
)


# --- label-propagation communities -----------------------------------

LPA_ITERS = 4  # fixed synchronous rounds (both engines unroll the same)
LPA_TOP = 20  # communities reported


def _lpa_oracle() -> str:
    """Unrolled LPA_ITERS-round label propagation as chained CTEs."""
    ctes = [
        "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        f"""e0 AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
    )""",
        "e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0)",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM e)",
    ]
    for k in range(LPA_ITERS):
        ctes.append(
            f"""l{k + 1} AS (
      SELECT node, label FROM (
        SELECT e.u AS node, l.label,
               ROW_NUMBER() OVER (PARTITION BY e.u
                                  ORDER BY count(*) DESC, l.label) AS rk
        FROM e JOIN l{k} l ON e.v = l.node
        GROUP BY e.u, l.label
      ) WHERE rk = 1
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(label AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(node) AS BIGINT) AS min_part,
           CAST(max(node) AS BIGINT) AS max_part
    FROM l{LPA_ITERS} GROUP BY 1
    ORDER BY n_parts DESC, community LIMIT {LPA_TOP}
    """
    )


def copurchase_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SYMMETRIC support-filtered co-purchase edge list — the one
    graph every structural operator here walks (LPA communities,
    k-core peeling, degree assortativity). Built once per (session,
    sf_dir): order-keyed pair generation with the >= {MS}-order
    support floor, then explode-of-2-array symmetrization (a
    self-union would duplicate the whole pair-generation subtree in
    the plan — 4 lineitem scans; the triangles operator hit the same
    trap), coalesced before the shared session cache (AQE doesn't
    size cached builds)."""
    p0 = _copurchase_pairs(spark, sf_dir).select(
        F.col("part_a").alias("u"), F.col("part_b").alias("v")
    )
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "copurchase_edges"),
        lambda: p0.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(
                        F.col("v").alias("u"), F.col("u").alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .coalesce(8),
    )


copurchase_sym_edges.__doc__ = (copurchase_sym_edges.__doc__ or "").replace(
    "{MS}", str(MIN_SUPPORT)
)


@query("part_copurchase_communities", oracle=_lpa_oracle())
def part_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the co-purchase graph by synchronous
    label propagation: parts start labeled with their own key; each of
    {LPA_ITERS} rounds every part adopts the most frequent label among
    its neighbors (ties to the smallest label, so the update is a
    deterministic function both engines compute identically — the
    nondeterministic-schedule variant of LPA cannot be oracle-checked).
    Complements ``dedup_clusters`` (connected components = communities
    at their coarsest) with the density-sensitive partition a
    merchandising team actually uses for assortment groups.

    Scale: edges come from the order-keyed pair generation of
    ``part_copurchase_lift`` (bounded per-order fan-out, support
    filter) and are cached; each round is one shuffle of the
    O(|parts|) label frame onto the neighbor key followed by a
    two-level aggregate — the classic synchronous Pregel step
    expressed as join+groupBy, {LPA_ITERS} bounded rounds, no
    driver-side graph state."""
    edges = copurchase_sym_edges(spark, sf_dir)
    labels = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    rk_w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), "label")
    for k in range(LPA_ITERS):
        # per-round label state checkpointed, not chained: the k-core
        # lesson (r14) — a chained round keeps every earlier round's
        # lineage in the analyzed plan, so planning cost grows with
        # the iteration count; the eager DISK_ONLY checkpoint keeps
        # each round O(|parts|) rows and the plan O(1) per round.
        labels = session_checkpointed(
            spark,
            frame_memo_tag(sf_dir, f"lpa_l{k + 1}"),
            lambda: edges.join(labels, edges["v"] == labels["node"])
            .groupBy(F.col("u").alias("nd"), "label")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("nd").alias("node"), "label", "cnt")
            .withColumn("rk", F.row_number().over(rk_w))
            .where(F.col("rk") == 1)
            .select("node", "label"),
        )
    return (
        labels.groupBy(F.col("label").cast("bigint").alias("community"))
        .agg(
            F.count("*").alias("n_parts"),
            F.min("node").cast("bigint").alias("min_part"),
            F.max("node").cast("bigint").alias("max_part"),
        )
        .orderBy(F.col("n_parts").desc(), "community")
        .limit(LPA_TOP)
    )


part_copurchase_communities.__doc__ = (
    part_copurchase_communities.__doc__ or ""
).replace("{LPA_ITERS}", str(LPA_ITERS))


TYPO_BLOCK_CAP = 150

_TYPO_BLK_RANK = {
    d: (
        "row_number() OVER (PARTITION BY p_size ORDER BY "
        f"{th.salted_md5h('typoblk', cast, d)}, p_partkey)"
    )
    for d, cast in (
        (th.SPARK, "CAST(p_partkey AS STRING)"),
        (th.DUCK, "CAST(p_partkey AS VARCHAR)"),
    )
}


@query(
    "typo_blocking_recall_eval",
    oracle=f"""
    WITH parts AS (
      SELECT p_partkey, p_name, p_brand, p_size FROM part
    ), ranked AS (
      SELECT *, {_TYPO_BLK_RANK[th.DUCK]} AS blk_rk FROM parts
    ), truth AS (
      SELECT p_partkey, p_name, p_brand, p_size FROM ranked
      WHERE blk_rk <= {TYPO_BLOCK_CAP}
    ), relaxed AS (
      SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
             CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS tight,
             CASE WHEN levenshtein(a.p_name, b.p_name) <= {TYPO_MAX_DIST}
                  THEN 1 ELSE 0 END AS is_true
      FROM truth a JOIN truth b
        ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
    )
    SELECT (SELECT count(*) FROM parts) AS n_parts,
           (SELECT count(*) FROM truth) AS n_truth_parts,
           CAST(count(*) AS BIGINT) AS n_relaxed_candidates,
           CAST(SUM(tight) AS BIGINT) AS n_tight_candidates,
           CAST(SUM(is_true) AS BIGINT) AS n_true_pairs,
           CAST(SUM(tight * is_true) AS BIGINT) AS n_found,
           CASE WHEN SUM(is_true) = 0 THEN NULL
                ELSE SUM(tight * is_true) / CAST(SUM(is_true) AS DOUBLE)
           END AS pair_completeness,
           CASE WHEN count(*) = 0 THEN NULL
                ELSE 1.0 - SUM(tight) / CAST(count(*) AS DOUBLE)
           END AS candidate_reduction
    FROM relaxed
    """,
)
def typo_blocking_recall_eval(
    spark: SparkSession, sf_dir: str, block_cap: int = TYPO_BLOCK_CAP
) -> DataFrame:
    """Blocking-quality evaluation for the catalog-dedup blocking —
    the entity-resolution analog of dedup_lsh_recall_eval: how many
    <= {TYPO_MAX_DIST}-edit name pairs does adding p_brand to the
    block key lose (pair completeness), and how many candidate
    comparisons does it save (candidate reduction)? The reference
    universe is the RELAXED size-only blocking — an equi-join
    superset of the production (brand, size) key — evaluated on a
    DETERMINISTIC per-block sample: each size block contributes its
    {TYPO_BLOCK_CAP} lowest-salted-hash parts (VERDICT r10 #4 — the
    uncapped size-only truth universe grew O(n²/|sizes|) levenshtein
    comparisons, a scale-killer at 100×). Completeness and reduction
    are computed EXACTLY on the sampled universe; the sample is
    content-keyed (portable md5 of the part key), so both engines and
    any rerun pick the identical truth set.

    Scale: the truth universe is now <= |size domain| x C(cap, 2)
    pairs — FLAT in corpus size, like the LSH_BUCKET_CAP guard — so
    doubling a skewed fixture cannot grow the task count. One
    window-ranked scan, one self-equi-join on p_size over <= cap-row
    blocks, levenshtein on in-block candidates only, then a single
    global rollup row. Both ratio columns are divisions of exact
    counts."""
    ranked = load_table(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_size",
        f"{_TYPO_BLK_RANK[th.SPARK]} AS blk_rk",
    )
    truth = ranked.where(F.col("blk_rk") <= block_cap).drop("blk_rk")
    a, b = truth.alias("a"), truth.alias("b")
    relaxed = a.join(
        b,
        (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.when(F.col("a.p_brand") == F.col("b.p_brand"), 1)
        .otherwise(0)
        .alias("tight"),
        F.when(
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            <= TYPO_MAX_DIST,
            1,
        )
        .otherwise(0)
        .alias("is_true"),
    )
    stats = relaxed.agg(
        F.count("*").cast("bigint").alias("n_relaxed_candidates"),
        F.sum("tight").cast("bigint").alias("n_tight_candidates"),
        F.sum("is_true").cast("bigint").alias("n_true_pairs"),
        F.sum(F.col("tight") * F.col("is_true"))
        .cast("bigint")
        .alias("n_found"),
        F.when(F.sum("is_true") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.sum(F.col("tight") * F.col("is_true"))
            / F.sum("is_true").cast("double")
        )
        .alias("pair_completeness"),
        F.when(F.count("*") == 0, F.lit(None).cast("double"))
        .otherwise(1.0 - F.sum("tight") / F.count("*").cast("double"))
        .alias("candidate_reduction"),
    )
    # universe counts ride a 1-row broadcast scalar attach (the waived
    # totals crossJoin pattern) instead of a driver-side count()
    counts = ranked.agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum(F.when(F.col("blk_rk") <= block_cap, 1).otherwise(0))
        .cast("bigint")
        .alias("n_truth_parts"),
    )
    return stats.crossJoin(F.broadcast(counts)).select(
        "n_parts",
        "n_truth_parts",
        "n_relaxed_candidates",
        "n_tight_candidates",
        "n_true_pairs",
        "n_found",
        "pair_completeness",
        "candidate_reduction",
    )


typo_blocking_recall_eval.__doc__ = typo_blocking_recall_eval.__doc__.replace(
    "{TYPO_MAX_DIST}", str(TYPO_MAX_DIST)
).replace("{TYPO_BLOCK_CAP}", str(TYPO_BLOCK_CAP))
