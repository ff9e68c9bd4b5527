"""Cross-snapshot reconciliation — the verification layer a warehouse
sink needs once data moves at scale: "did snapshot B arrive exactly as
derived from snapshot A, and if not, which rows drifted?"

Reference analog: the Kafka→warehouse sink's delivery contract
(``kafka/clickhouse_connector_configuration.json:1-26`` promises
at-least-once delivery into the warehouse; the reference never audits
what actually landed). These operators are that missing audit, built
the way a 100 TB migration is actually verified:

- **digest-early**: each side is reduced to ``(key, md5(row))`` inside
  its own scan, so the join that classifies rows moves 2 narrow columns
  per side — never the full row — through the shuffle;
- **order-invariant checksums**: per diff class the audit emits
  ``bit_xor`` folds of the key and of the row digest (60-bit portable
  hash, ``functions/texthash.py``), so two runs — or two engines — can
  compare 4 summary rows instead of re-shipping row lists, and XOR
  cannot overflow regardless of row count;
- the drill-down (which keys changed) is the same plan minus the final
  rollup — filter ``diff_class != 'unchanged'`` before aggregating.

The fixture derives snapshot B from ``orders`` deterministically
(updates every 97th key, deletes every 101st, clones every 103rd to a
shifted key region) purely so the DuckDB oracle can re-derive the same
two snapshots; production feeds two real tables.

``bloom_prefilter_audit`` closes the other reconciliation loop: the
semi-join *reduction* story. Spark's runtime bloom-filter join
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) prunes a fact
scan by a dimension predicate before the shuffle; this audit makes the
technique driver-visible with a pinned, engine-portable filter (k=4
salted md5 hashes into m=2^14 bits) and measures the exact
false-positive cost on the ``customer`` probe side. No false negative
is possible by construction — the test suite asserts the invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end2end_data_pipeline_spark.functions import texthash as th
from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import (
    frame_memo_tag,
    load_table,
    register_views,
    session_cached,
)

# snapshot-B derivation cadences (coprime so the classes overlap the
# way real drift does: a key can be both update-eligible and deleted —
# deletion wins because the row is simply absent from B)
_UPD_EVERY = 97
_DEL_EVERY = 101
_INS_EVERY = 103
_UPD_BUMP = 137  # cents added to updated rows
_INS_BUMP = 11  # cents added to cloned rows
# cloned keys land 1e12 above the native keyspace; TPC-H orderkeys stay
# below ~6e8 even at SF 100, so the regions cannot collide
_INS_OFFSET = 10**12


def _reconcile_sql(dialect: str) -> str:
    """One source of truth for both engines; only scalar-function
    spellings differ (STRING/VARCHAR, date_format/strftime, div-by-hex
    digest fold)."""
    if dialect == "spark":
        s, dfmt = "STRING", "date_format(o_orderdate,'yyyy-MM-dd HH:mm:ss')"
        fold = "CAST(conv(substr(coalesce(bd.dig, ad.dig),1,15),16,10) AS BIGINT)"
        b_body = f"""
          SELECT e.k, e.cust, e.st, e.cents, e.d, e.prio FROM src
          LATERAL VIEW explode(filter(array(
            CASE WHEN k % {_DEL_EVERY} != 0 THEN named_struct(
              'k', k, 'cust', cust, 'st', st,
              'cents', cents + CASE WHEN k % {_UPD_EVERY} = 0
                THEN CAST({_UPD_BUMP} AS BIGINT) ELSE CAST(0 AS BIGINT) END,
              'd', d, 'prio', prio) END,
            CASE WHEN k % {_INS_EVERY} = 0 THEN named_struct(
              'k', k + {_INS_OFFSET}, 'cust', cust, 'st', st,
              'cents', cents + CAST({_INS_BUMP} AS BIGINT),
              'd', d, 'prio', prio) END
          ), x -> x IS NOT NULL)) t AS e"""
    else:
        s, dfmt = "VARCHAR", "strftime(o_orderdate,'%Y-%m-%d %H:%M:%S')"
        fold = "(('0x' || substr(coalesce(bd.dig, ad.dig),1,15))::BIGINT)"
        b_body = f"""
          SELECT k, cust, st,
                 cents + CASE WHEN k % {_UPD_EVERY} = 0
                   THEN {_UPD_BUMP} ELSE 0 END AS cents, d, prio
          FROM src WHERE k % {_DEL_EVERY} != 0
          UNION ALL
          SELECT k + {_INS_OFFSET}, cust, st, cents + {_INS_BUMP}, d, prio
          FROM src WHERE k % {_INS_EVERY} = 0"""
    dig = (
        f"md5(concat_ws('|', CAST(k AS {s}), CAST(cust AS {s}), st,"
        f" CAST(cents AS {s}), d, prio))"
    )
    return f"""
    WITH src AS (
      SELECT o_orderkey AS k, o_custkey AS cust, o_orderstatus AS st,
             CAST(round(o_totalprice*100) AS BIGINT) AS cents,
             {dfmt} AS d, o_orderpriority AS prio
      FROM orders),
    b AS ({b_body}),
    ad AS (SELECT k, {dig} AS dig FROM src),
    bd AS (SELECT k, {dig} AS dig FROM b)
    SELECT CASE WHEN ad.k IS NULL THEN 'added'
                WHEN bd.k IS NULL THEN 'deleted'
                WHEN ad.dig != bd.dig THEN 'changed'
                ELSE 'unchanged' END AS diff_class,
           count(*) AS n_rows,
           bit_xor(coalesce(ad.k, bd.k)) AS key_xor,
           bit_xor({fold}) AS dig_xor
    FROM ad FULL OUTER JOIN bd ON ad.k = bd.k
    GROUP BY diff_class ORDER BY diff_class
    """


@query("snapshot_reconcile_audit", oracle=_reconcile_sql("duck"))
def snapshot_reconcile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed table diff between two snapshots of ``orders``:
    classify every key as added / deleted / changed / unchanged and
    fold each class to (count, key-XOR, digest-XOR).

    Scale: digests are computed inside each side's scan (rows never
    leave their partition wider than 2 columns), the full-outer join
    shuffles only ``(key, 32-char digest)``, output is O(4). The B
    derivation is a single pass over the source (one LATERAL explode
    emits the update/delete/insert effects), so the whole audit costs
    two narrow scans + one key-partitioned join at any corpus size."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_reconcile_sql("spark"))


# --- Bloom prefilter -------------------------------------------------

BLOOM_M = 16_384  # bits (2^14): ~25% fill at sf0.1's ~1.1k members × k=4
BLOOM_K = 4
MEMBER_CENTS = 49_600_000  # any single order ≥ 496k ⇒ ~7.5% of customers


def _positions_exprs(col: str, dialect: str) -> list[str]:
    """k salted portable-hash bit positions — the shared
    ``functions/texthash.py`` builder, so the two dialects cannot
    drift (its whole point; r9 review)."""
    cast = "STRING" if dialect == th.SPARK else "VARCHAR"
    return [
        f"{th.salted_md5h(j, f'CAST({col} AS {cast})', dialect)} % {BLOOM_M}"
        for j in range(1, BLOOM_K + 1)
    ]


def _duck_bloom_sql() -> str:
    def positions(col: str) -> str:
        return f"unnest([{', '.join(_positions_exprs(col, th.DUCK))}])"

    return f"""
    WITH members AS (
      SELECT DISTINCT o_custkey AS ck FROM orders
      WHERE CAST(round(o_totalprice*100) AS BIGINT) >= {MEMBER_CENTS}),
    setbits AS (SELECT DISTINCT {positions('ck')} AS pos FROM members),
    probes AS (
      SELECT DISTINCT c_custkey AS ck, {positions('c_custkey')} AS pos
      FROM customer),
    verdict AS (
      SELECT p.ck, count(*) AS n_probe,
             SUM(CASE WHEN s.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM probes p LEFT JOIN setbits s ON p.pos = s.pos
      GROUP BY p.ck),
    flags AS (
      SELECT v.ck, (v.n_hit = v.n_probe) AS bloom_pos,
             (m.ck IS NOT NULL) AS actual
      FROM verdict v LEFT JOIN members m ON v.ck = m.ck)
    SELECT
      CAST(SUM(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
      CAST(SUM(CASE WHEN NOT actual THEN 1 ELSE 0 END) AS BIGINT)
        AS n_nonmembers,
      CAST(SUM(CASE WHEN actual AND bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
        AS n_true_pos,
      CAST(SUM(CASE WHEN NOT actual AND bloom_pos THEN 1 ELSE 0 END)
        AS BIGINT) AS n_false_pos,
      CAST(SUM(CASE WHEN NOT actual AND bloom_pos THEN 1 ELSE 0 END)
        AS DOUBLE)
        / NULLIF(SUM(CASE WHEN NOT actual THEN 1 ELSE 0 END), 0) AS fp_rate,
      CAST((SELECT count(*) FROM setbits) AS BIGINT) AS n_setbits
    FROM flags
    """


def _spark_positions(col: str) -> F.Column:
    """The Spark face of ``_positions_exprs`` — JVM-side md5/conv
    built-ins, identical bits to the DuckDB form by construction."""
    return F.explode(
        F.array(*[F.expr(e) for e in _positions_exprs(col, th.SPARK)])
    )


@query("bloom_prefilter_audit", oracle=_duck_bloom_sql())
def bloom_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join prefilter, made measurable: build a
    k={K} / m=2^14-bit filter over high-value customers (salted
    portable md5 hashes — identical bits in any engine), probe every
    customer, and report the exact confusion counts + false-positive
    rate the prefilter would pay before the real join.

    This is the audit face of what Spark applies automatically via
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` (runtime
    row-level filter pushed across a join): the filter's set-bit
    relation is O(m) rows and broadcasts; the probe side joins on the
    bit position — no shuffle of the probe table wider than
    (key, position). False negatives are impossible by construction
    (``tests/test_reconcile.py`` asserts n_true_pos == n_members).

    Scale: members ≪ customers by the value predicate, and both
    ``members`` and its ``setbits`` are session-memoized caches
    (``session_cached`` — the ge2/q15 pattern), so the three consumers
    (bit build, actual-flag join, set-bit census) cost ONE orders scan
    between them and every join against them broadcasts; everything
    downstream is O(customers × k) narrow rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    members = session_cached(
        spark,
        frame_memo_tag(sf_dir, "bloom_members"),
        lambda: o.where(
            F.expr("CAST(round(o_totalprice*100) AS BIGINT)")
            >= F.lit(MEMBER_CENTS)
        )
        .select(F.col("o_custkey").alias("ck"))
        .distinct(),
    )
    setbits = session_cached(
        spark,
        frame_memo_tag(sf_dir, "bloom_setbits"),
        lambda: members.select(_spark_positions("ck").alias("pos")).distinct(),
    )
    probes = c.select(
        F.col("c_custkey").alias("ck"),
        _spark_positions("c_custkey").alias("pos"),
    ).distinct()
    verdict = (
        probes.join(setbits.withColumn("hit", F.lit(1)), "pos", "left")
        .groupBy("ck")
        .agg(
            F.count(F.lit(1)).alias("n_probe"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
    )
    flags = verdict.join(
        F.broadcast(members.withColumn("is_m", F.lit(True))), "ck", "left"
    ).select(
        (F.col("n_hit") == F.col("n_probe")).alias("bloom_pos"),
        F.coalesce(F.col("is_m"), F.lit(False)).alias("actual"),
    )
    tally = flags.agg(
        F.sum(F.when(F.col("actual"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_members"),
        F.sum(F.when(~F.col("actual"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nonmembers"),
        F.sum(F.when(F.col("actual") & F.col("bloom_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true_pos"),
        F.sum(F.when(~F.col("actual") & F.col("bloom_pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    ).select(
        "n_members",
        "n_nonmembers",
        "n_true_pos",
        "n_false_pos",
        F.expr(
            "CAST(n_false_pos AS DOUBLE) / NULLIF(n_nonmembers, 0)"
        ).alias("fp_rate"),
    )
    census = setbits.agg(F.count(F.lit(1)).cast("bigint").alias("n_setbits"))
    return tally.crossJoin(F.broadcast(census))


bloom_prefilter_audit.__doc__ = bloom_prefilter_audit.__doc__.replace(
    "{K}", str(BLOOM_K)
)


# MDM survivorship: the fixture has no duplicate customers, so the op
# synthesizes 1-3 "CRM copies" per customer with deterministic
# field-level staleness and nulls (the scrubbing-tier pattern: inject
# the mess with pure column arithmetic replicated in the oracle, then
# prove the cleanup). Freshness (c_custkey*31 + r*17) % 100 is
# tie-free within a customer for r in 0..2.
GOLDEN_MAX_COPIES = 3


def _golden_sql(dialect: str) -> str:
    if dialect == "spark":
        copies = (
            "SELECT c_custkey, c_name, c_mktsegment, c_acctbal,"
            " explode(sequence(0, CAST(c_custkey % {m} AS INT))) AS r"
            " FROM customer"
        )
        cents = "CAST(ROUND(c_acctbal * 100) AS BIGINT)"
        sstr = "STRING"
    else:
        copies = (
            "SELECT c_custkey, c_name, c_mktsegment, c_acctbal,"
            " unnest(generate_series(0, CAST(c_custkey % {m} AS INT))) AS r"
            " FROM customer"
        )
        cents = "CAST(ROUND(c_acctbal * 100) AS BIGINT)"
        sstr = "VARCHAR"
    copies = copies.format(m=GOLDEN_MAX_COPIES)
    agg = "max_by" if dialect == "spark" else "arg_max"
    return f"""
    WITH copies AS ({copies}),
    versions AS (
      SELECT c_custkey,
             CAST((c_custkey * 31 + r * 17) % 100 AS BIGINT) AS freshness,
             CASE WHEN (c_custkey + r) % 4 = 0 THEN NULL
                  ELSE concat(c_name, '-v', CAST(r AS {sstr})) END AS name_v,
             CASE WHEN (c_custkey + r) % 5 = 0 THEN NULL
                  ELSE concat(c_mktsegment, '/v', CAST(r AS {sstr})) END AS seg_v,
             CASE WHEN (c_custkey + r) % 7 = 0 THEN NULL
                  ELSE {cents} + r END AS bal_v_cents
      FROM copies
    )
    SELECT c_custkey,
           CAST(count(*) AS BIGINT) AS n_copies,
           {agg}(name_v, freshness) FILTER (WHERE name_v IS NOT NULL)
             AS name_golden,
           {agg}(seg_v, freshness) FILTER (WHERE seg_v IS NOT NULL)
             AS seg_golden,
           CAST({agg}(bal_v_cents, freshness)
                FILTER (WHERE bal_v_cents IS NOT NULL) AS BIGINT)
             AS bal_golden_cents,
           CAST((CASE WHEN count(name_v) = 0 THEN 1 ELSE 0 END)
              + (CASE WHEN count(seg_v) = 0 THEN 1 ELSE 0 END)
              + (CASE WHEN count(bal_v_cents) = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dead_fields
    FROM versions GROUP BY c_custkey ORDER BY c_custkey
    """


@query("customer_golden_record", oracle=_golden_sql("duck"))
def customer_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM golden-record election (survivorship): collapse each
    customer's CRM copies to one record by taking, PER FIELD, the
    value from the freshest copy where that field is non-null — the
    standard master-data-management merge rule ("most recent non-null
    wins"), with a per-record count of fields no copy could supply.
    Field-level election (not record-level) is the point: the golden
    record routinely mixes fields from different source copies.

    Scale: the copy fan-out is a map-side explode (bounded x{M}); the
    election is ONE partial-aggregable groupBy(custkey) — max_by and
    the null-aware counts all combine map-side, so the shuffle
    carries one slim row per customer, not per copy. No window, no
    self-join."""
    register_views(spark, sf_dir, "customer")
    return spark.sql(_golden_sql("spark"))


customer_golden_record.__doc__ = customer_golden_record.__doc__.replace(
    "{M}", str(GOLDEN_MAX_COPIES)
)
