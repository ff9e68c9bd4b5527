"""Incremental cross-snapshot dedup — the operation a production
100 TB corpus pipeline runs daily: screen a NEW batch of documents
against the fingerprint store of the already-accepted corpus, emitting
keep/drop decisions with provenance, WITHOUT recomputing the prior
corpus's signatures.

Two store tiers (built once per snapshot by ``exact_store_for`` /
``operators.dedup.signatures_for`` and persisted as parquet):

- exact tier: (doc_id, content_md5) — a new doc whose md5 equals any
  stored md5 is ``drop_exact`` against the smallest such prior doc;
- MinHash tier: the standard LSH banding store (doc_id, shh, mh0..7).
  Exact-tier survivors join their band keys against the store's band
  keys (equi-join, hot buckets capped on the store side), and
  candidates are verified by exact Jaccard over the stored shingle
  hashes — ``drop_minhash`` against the smallest verified prior doc.

Everything else is ``keep`` (within-batch duplicates are the batch
dedup suite's job — ``operators/dedup.py`` — run before admission).

Scale shape: the prior corpus contributes only its 8-byte-hash store
rows; its text is never read again. The exact tier is one equi-join on
content_md5; the LSH tier joins O(batch x bands) rows against the
store's band index. Nothing is quadratic, nothing shuffles the old
corpus. The snapshot split here (doc_id % 4) is a deterministic stand-
in for the arrival date a real pipeline would partition by.

The DuckDB oracle re-derives both snapshots as views over the same
``documents`` table and mirrors every tier — the driver's two-view
cross-check of the whole incremental path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end2end_data_pipeline_spark.functions import texthash as th
from end2end_data_pipeline_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    LSH_BUCKET_CAP,
    N_BANDS,
    _band_key,
    _jaccard_parts,
    bands_for,
    cap_buckets,
    sig_ctes,
    signatures_for,
)
from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import (
    fan_out,
    frame_memo_tag,
    load_table,
    session_cached,
)

# Deterministic snapshot split of the fixture corpus: 3/4 prior, 1/4 new.
BATCH_MOD = 4
# The fixture has no byte-identical documents, so the batch view
# deterministically REPLAYS every 20th doc as an exact copy of its
# prior-snapshot neighbor (doc_id + 1) — the re-ingestion event a
# production pipeline actually sees (same feed fetched twice). The
# replay is pure column logic, mirrored verbatim in the oracle, so the
# exact tier is exercised with known-nonzero hits.
REPLAY_MOD = 20


def exact_store_for(docs: DataFrame) -> DataFrame:
    """The exact-tier fingerprint store: (doc_id, content_md5)."""
    return docs.select("doc_id", F.md5("text").alias("content_md5"))


def incremental_decisions(
    batch_docs: DataFrame,
    exact_store: DataFrame,
    minhash_store: DataFrame,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """keep/drop decisions for ``batch_docs`` against a persisted
    store. The prior side is ONLY the two store frames — no prior
    text — so an appended batch screens against yesterday's corpus at
    the cost of fingerprinting the batch alone."""
    batch_md5 = exact_store_for(batch_docs)
    exact_match = (
        batch_md5.join(
            exact_store.select(
                F.col("doc_id").alias("prior_id"), "content_md5"
            ),
            "content_md5",
        )
        .groupBy("doc_id")
        .agg(F.min("prior_id").alias("exact_matched"))
    )

    batch_sigs = signatures_for(batch_docs).cache()
    prior_bands = cap_buckets(bands_for(minhash_store), bucket_cap).select(
        F.col("doc_id").alias("prior_id"), "band_id", "band_key"
    )
    cand = (
        bands_for(batch_sigs)
        .join(prior_bands, ["band_id", "band_key"])
        .select("doc_id", "prior_id")
        .distinct()
    )
    a = batch_sigs.select("doc_id", F.col("shh").alias("sh_a"))
    b = minhash_store.select(
        F.col("doc_id").alias("prior_id"), F.col("shh").alias("sh_b")
    )
    common, union = _jaccard_parts("sh_a", "sh_b", th.SPARK)
    verified = (
        cand.join(a, "doc_id")
        .join(b, "prior_id")
        .where(
            F.expr(common) / F.expr(union).cast("double") >= JACCARD_THRESHOLD
        )
        .groupBy("doc_id")
        .agg(F.min("prior_id").alias("mh_matched"))
    )

    return (
        batch_docs.select("doc_id")
        .join(exact_match, "doc_id", "left")
        .join(verified, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_matched").isNotNull(), "drop_exact")
            .when(F.col("mh_matched").isNotNull(), "drop_minhash")
            .otherwise("keep")
            .alias("decision"),
            F.coalesce("exact_matched", "mh_matched", F.lit(-1))
            .cast("bigint")
            .alias("matched_doc_id"),
        )
    )


def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    prior = docs.where(F.col("doc_id") % BATCH_MOD != 0)
    neighbor = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("replay_text")
    )
    batch = (
        docs.where(F.col("doc_id") % BATCH_MOD == 0)
        .join(neighbor, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % REPLAY_MOD == 0)
                & F.col("replay_text").isNotNull(),
                F.col("replay_text"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return prior, batch


def _decisions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    prior, batch = _snapshots(spark, sf_dir)
    # in production the two stores are PERSISTED tables; the fixture
    # derives them from the prior snapshot per call, so session-cache
    # them — the minhash store feeds both the band join and the verify
    # join, and uncached each use re-fingerprints the whole prior
    # corpus (repeats share ONE InMemoryRelation per store)
    return incremental_decisions(
        batch,
        session_cached(
            spark,
            frame_memo_tag(sf_dir, "incr_exact_store"),
            lambda: exact_store_for(prior),
        ),
        session_cached(
            spark,
            frame_memo_tag(sf_dir, "incr_sig_store"),
            lambda: signatures_for(prior),
        ),
    )


_DECISIONS_CTES = f"""
    WITH prior_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {BATCH_MOD} <> 0
    ), batch_docs AS (
      SELECT b.doc_id,
             CASE WHEN b.doc_id % {REPLAY_MOD} = 0 AND n.text IS NOT NULL
                  THEN n.text ELSE b.text END AS text
      FROM documents b
      LEFT JOIN documents n ON n.doc_id = b.doc_id + 1
      WHERE b.doc_id % {BATCH_MOD} = 0
    ), {sig_ctes(th.DUCK, 'prior_docs', 'p')},
    {sig_ctes(th.DUCK, 'batch_docs', 'b')},
    exact_match AS (
      SELECT b.doc_id, MIN(p.doc_id) AS exact_matched
      FROM (SELECT doc_id, md5(text) AS content_md5 FROM batch_docs) b
      JOIN (SELECT doc_id, md5(text) AS content_md5 FROM prior_docs) p
        USING (content_md5)
      GROUP BY b.doc_id
    ), pbands AS (
      SELECT doc_id, v.band_id,
             CASE v.band_id {' '.join(f'WHEN {bi} THEN {_band_key(bi, th.DUCK)}' for bi in range(N_BANDS))} END AS band_key
      FROM psigs, (VALUES (0), (1), (2), (3)) v(band_id)
    ), bbands AS (
      SELECT doc_id, v.band_id,
             CASE v.band_id {' '.join(f'WHEN {bi} THEN {_band_key(bi, th.DUCK)}' for bi in range(N_BANDS))} END AS band_key
      FROM bsigs, (VALUES (0), (1), (2), (3)) v(band_id)
    ), ok_buckets AS (
      SELECT band_id, band_key FROM pbands GROUP BY band_id, band_key
      HAVING count(*) <= {LSH_BUCKET_CAP}
    ), pbands_c AS (
      SELECT pbands.* FROM pbands JOIN ok_buckets USING (band_id, band_key)
    ), cand AS (
      SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS prior_id
      FROM bbands x JOIN pbands_c y USING (band_id, band_key)
    ), verified AS (
      SELECT batch_id AS doc_id, MIN(prior_id) AS mh_matched
      FROM cand
      JOIN bsigs a ON batch_id = a.doc_id
      JOIN psigs p ON prior_id = p.doc_id
      WHERE {_jaccard_parts('a.shh', 'p.shh', th.DUCK)[0]}
            / CAST({_jaccard_parts('a.shh', 'p.shh', th.DUCK)[1]} AS DOUBLE)
            >= {JACCARD_THRESHOLD}
      GROUP BY batch_id
    ), decisions AS (
      SELECT d.doc_id,
             CASE WHEN e.exact_matched IS NOT NULL THEN 'drop_exact'
                  WHEN v.mh_matched IS NOT NULL THEN 'drop_minhash'
                  ELSE 'keep' END AS decision,
             CAST(COALESCE(e.exact_matched, v.mh_matched, -1) AS BIGINT)
                 AS matched_doc_id
      FROM batch_docs d
      LEFT JOIN exact_match e ON d.doc_id = e.doc_id
      LEFT JOIN verified v ON d.doc_id = v.doc_id
    )"""


@query(
    "incr_dedup_decisions",
    oracle=_DECISIONS_CTES
    + """
    SELECT doc_id, decision, matched_doc_id FROM decisions ORDER BY doc_id
    """,
)
def incr_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission verdict per new-batch document: keep, drop_exact
    (byte-identical to a prior doc), or drop_minhash (near-dup of a
    prior doc), with the matched prior doc_id as provenance (-1 for
    keeps)."""
    return _decisions_df(spark, sf_dir).orderBy("doc_id")


@query(
    "incr_dedup_stats",
    oracle=_DECISIONS_CTES
    + """
    SELECT decision,
           count(*) AS n_docs,
           CAST(count(DISTINCT CASE WHEN matched_doc_id >= 0
                      THEN matched_doc_id END) AS BIGINT) AS n_distinct_priors
    FROM decisions GROUP BY decision ORDER BY decision
    """,
)
def incr_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission-rate rollup: how much of the new batch survives, and
    how concentrated the drops are on particular prior documents (a
    high drop count against few priors = a template/boilerplate
    source)."""
    return (
        _decisions_df(spark, sf_dir)
        .groupBy("decision")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct(
                F.when(F.col("matched_doc_id") >= 0, F.col("matched_doc_id"))
            )
            .cast("bigint")
            .alias("n_distinct_priors"),
        )
        .orderBy("decision")
    )
