"""Deduplication operators over ``documents`` — exact, MinHash-LSH,
SimHash, and exact n-gram Jaccard (the LLM-training-data dedup suite;
BASELINE.json north star).

Scale design (the part that matters at 100 TB):
- exact dedup groups on a 60-bit portable hash of the text, NOT the
  text itself — the shuffle moves 8-byte keys instead of documents;
- MinHash-LSH is the standard Broder construction: k=8 salted hashes,
  4 bands x 2 rows; candidate generation is an equi-join on
  (band_id, band_key) — never a cross join — so cost is
  O(n x bucket_size), and the exact-Jaccard verification runs only on
  candidates;
- SimHash (Charikar) reduces each document to a 64-bit signature;
  candidate pairs come from a 4x16-bit pigeonhole join (hamming <= 3
  guarantees at least one equal chunk), again an equi-join;
- MinHash signatures are per-row array math over built-ins (no UDF,
  no shuffle until the band join); SimHash signatures use the
  explode + codegen'd conditional-sum shape, trading one map-side-
  combined shuffle for keeping every instruction in whole-stage
  codegen (2.2x faster than the interpreted array fold).

All hash math uses the engine-portable md5 hash so the DuckDB oracle
reproduces results bit-for-bit (functions/texthash.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from end2end_data_pipeline_spark.functions import texthash as th
from end2end_data_pipeline_spark.registry import ORACLE, query
from end2end_data_pipeline_spark.sources.tables import (
    disk_checkpoint,
    fan_out,
    frame_memo_tag,
    load_table,
    model_memo_key,
    session_cached,
    session_checkpointed,
    session_memo,
    session_scratch,
    sf_tag,
)

SHINGLE_N = 3
N_MINHASH = 8
N_BANDS = 4  # rows-per-band r = 2 -> P(candidate) = 1-(1-J^2)^4
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3


def _shingle_set(dialect: str) -> str:
    toks = th.tokens("text", dialect)
    sh = th.shingles(toks, SHINGLE_N, dialect)
    if dialect == th.SPARK:
        return f"array_distinct({sh})"
    return f"list_distinct({sh})"


def _minhash_cols(dialect: str) -> list[str]:
    """k MinHash values over the pre-hashed shingle array ``shh`` —
    one md5 per shingle total (Carter-Wegman affine family), not one
    per (shingle, hash)."""
    return [
        th.minhash_affine("shh", a, b, dialect)
        for a, b in th.affine_coeffs(N_MINHASH)
    ]


def _band_key(b: int, dialect: str) -> str:
    """Band key = portable hash of the band's minhash row, so bucket
    ids stay 8 bytes however many rows per band."""
    cast = "STRING" if dialect == th.SPARK else "VARCHAR"
    lo, hi = 2 * b, 2 * b + 1
    return th.md5h(
        f"concat(CAST(mh{lo} AS {cast}), '_', CAST(mh{hi} AS {cast}))", dialect
    )


def _jaccard_parts(a: str, b: str, dialect: str) -> tuple[str, str]:
    """(n_common, n_union) of two distinct-element string arrays."""
    if dialect == th.SPARK:
        common = f"size(array_intersect({a}, {b}))"
        union = f"(size({a}) + size({b}) - {common})"
    else:
        common = f"len(list_filter({a}, x -> list_contains({b}, x)))"
        union = f"(len({a}) + len({b}) - {common})"
    return common, union


@query(
    "dedup_exact_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           (count(*) - count(DISTINCT md5(text))) / CAST(count(*) AS DOUBLE)
               AS dup_rate
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate census per language. Grouping key is md5(text):
    at scale the distinct/shuffle moves hashes, not documents."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.md5("text").alias("h"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("h").alias("n_unique"),
            (
                (F.count("*") - F.count_distinct("h"))
                / F.count("*").cast("double")
            ).alias("dup_rate"),
        )
        .orderBy("lang")
    )


@query(
    "dedup_exact_survivors",
    oracle="""
    SELECT MIN(doc_id) AS doc_id FROM documents
    GROUP BY md5(text) ORDER BY doc_id
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per distinct text
    (deterministic survivor policy)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


def signatures_for(docs: DataFrame) -> DataFrame:
    """doc_id + distinct hashed-shingle set + k minhashes for any
    (doc_id, text) frame, all per-row math. One md5 per TOKEN (not per
    shingle, not per (shingle, hash)): token hashes are projected once,
    shingle hashes are affine combinations of n consecutive token
    hashes, and the k signature values are affine transforms over the
    shingle-hash array. No shingle strings are ever materialized —
    ~4.5x cheaper and the verify-join payload is 8-byte ints.

    Shared by the batch dedup suite here and the incremental
    cross-snapshot dedup (operators/incremental.py), which persists
    this frame as its fingerprint store."""
    toks = th.tokens("text", th.SPARK)
    # The empty-shingle filter is expressed on the RAW text (tokens >= n
    # <=> shingle set nonempty): a predicate on `shh` would be pushed
    # below the projections by substituting shh's defining expression,
    # which unlocks projection collapse and re-inlines the md5 pass
    # into every minhash column (measured 15x slower).
    base = (
        docs.where(F.expr(f"size({toks}) >= {SHINGLE_N}"))
        .select(
            "doc_id", F.expr(th.reduced_token_hashes(toks, th.SPARK)).alias("th_arr")
        )
        .select(
            "doc_id",
            F.expr(th.shingle_combine("th_arr", SHINGLE_N, th.SPARK)).alias("shh"),
        )
    )
    cols = [F.expr(e).alias(f"mh{j}") for j, e in enumerate(_minhash_cols(th.SPARK))]
    return base.select("doc_id", "shh", *cols)


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` signature frame, cached once per (application,
    sf_dir) and shared by every MinHash query of this module."""
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "minhash_sigs"),
        lambda: signatures_for(
            fan_out(spark, load_table(spark, sf_dir, "documents"))
        ),
    )


def sig_ctes(dialect: str, src: str = "documents", prefix: str = "") -> str:
    """The signature CTE chain ``{p}tok, {p}base, {p}sigs`` WITHOUT the
    leading WITH, so callers can compose several chains (the
    incremental dedup oracle runs one per snapshot view)."""
    toks = th.tokens("text", dialect)
    mh = ",\n             ".join(
        f"{e} AS mh{j}" for j, e in enumerate(_minhash_cols(dialect))
    )
    p = prefix
    return f"""{p}tok AS (
        SELECT doc_id, {th.reduced_token_hashes(toks, dialect)} AS th_arr
        FROM {src}
        WHERE len({toks}) >= {SHINGLE_N}
      ), {p}base AS (
        SELECT doc_id, {th.shingle_combine('th_arr', SHINGLE_N, dialect)} AS shh
        FROM {p}tok
      ), {p}sigs AS (
        SELECT doc_id, shh,
             {mh}
        FROM {p}base
      )"""


def _signatures_sql(dialect: str) -> str:
    return "\n      WITH " + sig_ctes(dialect)


@query(
    "dedup_minhash_signatures",
    oracle=_signatures_sql(th.DUCK)
    + """
    SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7
    FROM sigs ORDER BY doc_id
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix (k=8 salted portable hashes over 3-gram
    word shingles). Validates the LSH machinery value-exactly. Read
    through the shared ``minhash_sigs`` session cache (r14: this query
    and dedup_band_stats recomputed the signature pass per execution
    while the pair queries cached the identical frame; the cache is
    columnar, so selecting the mh columns never deserializes shh)."""
    sigs = _minhash_sigs(spark, sf_dir)
    return sigs.select("doc_id", *[f"mh{j}" for j in range(N_MINHASH)]).orderBy(
        "doc_id"
    )


def bands_for(sigs: DataFrame) -> DataFrame:
    """Explode a signature frame into (doc_id, band_id, band_key) LSH
    band rows — the candidate-join key space. Shared with
    operators/incremental.py."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.expr(_band_key(b, th.SPARK)).alias("band_key"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


# LSH bucket-size cap: a (band_id, band_key) bucket holding f docs
# contributes f^2/2 candidate pairs, so one degenerate bucket (e.g.
# empty-ish documents all hashing alike) can go quadratic on a skewed
# real corpus. Buckets larger than the cap are dropped from candidate
# generation, on both engines, by dedup_minhash_pairs (and the
# queries that read its pairs) and by the incremental dedup
# (operators/incremental.py). The cluster queries dedup_clusters and
# dedup_cluster_survivors (``_lsh_edges`` / ``_duck_cluster_sql``)
# generate candidates from every bucket, uncapped. At 100 TB pair the
# cap with multi-probe / more bands to recover the recall the dropped
# bucket carried.
LSH_BUCKET_CAP = 200


@query(
    "dedup_minhash_pairs",
    oracle=_signatures_sql(th.DUCK)
    + f""", bands AS (
        SELECT doc_id,
               b.band_id,
               CASE b.band_id {' '.join(f'WHEN {b} THEN {_band_key(b, th.DUCK)}' for b in range(N_BANDS))} END AS band_key
        FROM sigs, (VALUES (0), (1), (2), (3)) b(band_id)
      ), ok_buckets AS (
        SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
        HAVING count(*) <= {LSH_BUCKET_CAP}
      ), bands_capped AS (
        SELECT bands.* FROM bands JOIN ok_buckets USING (band_id, band_key)
      ), cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands_capped x JOIN bands_capped y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
         AND x.doc_id < y.doc_id
      ), verified AS (
        SELECT doc_a, doc_b,
               {_jaccard_parts('a.shh', 'b.shh', th.DUCK)[0]} AS n_common,
               {_jaccard_parts('a.shh', 'b.shh', th.DUCK)[1]} AS n_union
        FROM cand JOIN sigs a ON doc_a = a.doc_id
                  JOIN sigs b ON doc_b = b.doc_id
      )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_union AS BIGINT) AS n_union,
           n_common / CAST(n_union AS DOUBLE) AS jaccard
    FROM verified
    WHERE n_common / CAST(n_union AS DOUBLE) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding + exact-Jaccard
    verification of candidates only. The candidate join is an equi-join
    on (band_id, band_key) — O(n x bucket) not O(n^2) — and buckets
    larger than ``bucket_cap`` are dropped before the self-join (the
    hot-bucket guard; the oversize-bucket list is tiny so the filter
    is a broadcast anti-join)."""
    sigs = _minhash_sigs(spark, sf_dir)
    bands = cap_buckets(bands_for(sigs), bucket_cap)
    return _lsh_verified_pairs(sigs, bands).orderBy("doc_a", "doc_b")


def cap_buckets(bands: DataFrame, bucket_cap: int) -> DataFrame:
    """``bands`` without the rows of any (band_id, band_key) bucket
    holding more than ``bucket_cap`` docs. The oversize-bucket list is
    tiny, so the filter is a broadcast anti-join. Shared with
    operators/incremental.py."""
    oversize = (
        bands.groupBy("band_id", "band_key")
        .count()
        .where(F.col("count") > bucket_cap)
        .select("band_id", "band_key")
    )
    return bands.join(F.broadcast(oversize), ["band_id", "band_key"], "left_anti")


def _lsh_verified_pairs(sigs: DataFrame, bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common, n_union, jaccard) for every doc pair
    that shares a bucket of ``bands`` and whose shingle sets in
    ``sigs`` reach JACCARD_THRESHOLD. The band frame decides the cap:
    pass ``cap_buckets(...)`` for the capped pair query, plain
    ``bands_for(sigs)`` for the uncapped cluster graph."""
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("shh").alias("sh_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("shh").alias("sh_b"))
    common, union = _jaccard_parts("sh_a", "sh_b", th.SPARK)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(common).cast("bigint").alias("n_common"),
            F.expr(union).cast("bigint").alias("n_union"),
        )
        .withColumn("jaccard", F.col("n_common") / F.col("n_union").cast("double"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "n_union", "jaccard")
    )


def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures via explode + 64 codegen'd conditional sums.

    Higher-order array functions (aggregate/zip_with) evaluate their
    lambdas interpreted, outside whole-stage codegen — a 64-wide vote
    fold costs ~64 interpreted ops + an array allocation per token.
    Exploding tokens to rows and voting with 64 ``sum(((h>>b)&1)*2-1)``
    aggregate columns keeps everything inside codegen'd
    HashAggregate: measured 2.2x faster warm at sf0.1, and the shape
    is shuffle-parallel (partial votes combine map-side) instead of
    per-row serial. Values are identical to the fold form (the oracle
    keeps DuckDB's list-fold formulation).
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = th.tokens("text", th.SPARK)
    tok_rows = docs.select("doc_id", F.explode(F.expr(toks)).alias("t"))
    hashed = tok_rows.select("doc_id", F.expr(th.md5h("t", th.SPARK)).alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"((h >> {b}) & 1) * 2 - 1")).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = "+".join(
        f"(CASE WHEN v{b} > 0 THEN shiftleft(1L, {b}) ELSE 0L END)"
        for b in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", F.expr(sig).cast("bigint").alias("simhash"))


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_simhash_signatures``, cached once per (application, sf_dir)
    and shared by the SimHash queries."""
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "simhash_sigs"),
        lambda: _simhash_signatures(spark, sf_dir),
    )


def _simhash_duck_cte() -> str:
    """DuckDB oracle: token hashes in a CTE, then the per-bit votes."""
    toks = th.tokens("text", th.DUCK)
    hashes = th.token_hashes(toks, th.DUCK)
    sig = th.simhash("hs", SIMHASH_BITS, th.DUCK)
    # the token-less filter mirrors the Spark side EXACTLY: explode +
    # groupBy drops a doc with no tokens (NULL or empty text), while a
    # list-fold over an empty/NULL token list would emit signature 0 —
    # and every token-less doc sharing signature 0 makes them all
    # pairwise "duplicates", a quadratic pair blowup on a corpus with
    # a null-text flood (r13 null-flood sweep). Token-less docs carry
    # no content to fingerprint; they are excluded from SimHash dedup.
    return f"""
    WITH hashed AS (
      SELECT doc_id, {hashes} AS hs FROM documents
      WHERE COALESCE(len({hashes}), 0) >= 1
    ), sigs AS (
      SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM hashed
    )"""


@query(
    "dedup_simhash_signatures",
    oracle=_simhash_duck_cte()
    + """
    SELECT doc_id, simhash FROM sigs ORDER BY doc_id
    """,
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (per-bit majority vote over token
    hashes), computed in whole-stage codegen via the explode+aggregate
    shape (see ``_simhash_signatures``) — read through the same
    session cache ``dedup_simhash_pairs`` uses (r14: the signature
    query recomputed the 64-vote aggregation per execution while its
    sibling cached the identical frame)."""
    return _simhash_sigs(spark, sf_dir).orderBy("doc_id")


@query(
    "dedup_simhash_pairs",
    oracle=_simhash_duck_cte()
    + f""", chunks AS (
      SELECT doc_id, simhash, c.chunk_id,
             (simhash >> (16 * c.chunk_id)) & 65535 AS chunk_val
      FROM sigs, (VALUES (0), (1), (2), (3)) c(chunk_id)
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.simhash AS sh_a, y.simhash AS sh_b
      FROM chunks x JOIN chunks y
        ON x.chunk_id = y.chunk_id AND x.chunk_val = y.chunk_val
       AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4-byte pigeonhole candidate join (any
    pair within hamming 3 must share at least one of 4 byte-chunks),
    then exact hamming filter. 16-bit chunks: hamming <= 3 over 64
    bits guarantees one equal chunk."""
    sigs = _simhash_sigs(spark, sf_dir)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.expr(f"(simhash >> {16 * c}) & 65535").alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk_val")
    x = chunks.alias("x")
    y = chunks.alias("y")
    return (
        x.join(
            y,
            (F.col("x.chunk_id") == F.col("y.chunk_id"))
            & (F.col("x.chunk_val") == F.col("y.chunk_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.expr("bit_count(sh_a ^ sh_b)").cast("int"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): each document's distinct hashed-shingle set,
    cached once per (application, sf_dir) and shared by the exact
    Jaccard, containment and prefix-filter queries."""
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "shingle_sets"),
        lambda: fan_out(spark, load_table(spark, sf_dir, "documents")).select(
            "doc_id", F.expr(_shingle_set(th.SPARK)).alias("sh")
        ),
    )


# Candidate-generation document-frequency cap: a shingle present in
# more than this many documents is dropped from the inverted index
# BEFORE the self-join (verification still uses full shingle sets).
# Without it a boilerplate shingle shared by f documents contributes
# f^2/2 candidate pairs — quadratic blowup on a skewed real corpus.
# A true near-dup pair (jaccard >= 0.8) shares many shingles, so it
# still surfaces via its non-hot ones unless EVERY common shingle is
# hotter than the cap — per-corpus tuning trades that tail for cost.
SHINGLE_DF_CAP = 100


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_shingle_set(th.DUCK)} AS sh FROM documents
    ), inv AS (
      SELECT doc_id, unnest(sh) AS shingle FROM sh
    ), df AS (
      SELECT shingle FROM inv GROUP BY shingle
      HAVING count(*) <= {SHINGLE_DF_CAP}
    ), inv_capped AS (
      SELECT inv.doc_id, inv.shingle FROM inv JOIN df USING (shingle)
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM inv_capped x
      JOIN inv_capped y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    ), verified AS (
      SELECT doc_a, doc_b,
             {_jaccard_parts('a.sh', 'b.sh', th.DUCK)[0]} AS n_common,
             {_jaccard_parts('a.sh', 'b.sh', th.DUCK)[1]} AS n_union
      FROM cand JOIN sh a ON doc_a = a.doc_id JOIN sh b ON doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, n_common / CAST(n_union AS DOUBLE) AS jaccard
    FROM verified
    WHERE n_common / CAST(n_union AS DOUBLE) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, df_cap: int = SHINGLE_DF_CAP
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle
    index (ground truth for the MinHash approximation). The candidate
    join is shingle-equality with a document-frequency cap: shingles
    hotter than ``df_cap`` are dropped from the index (NOT from the
    verification sets), bounding any shingle's candidate contribution
    at df_cap^2/2 pairs — the guard that keeps a skewed corpus from
    going quadratic at 100 TB. The hot-shingle list is tiny by
    construction, so the filter is a broadcast anti-join."""
    sh = _shingle_sets(spark, sf_dir)
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    hot = (
        inv.groupBy("shingle")
        .count()
        .where(F.col("count") > df_cap)
        .select("shingle")
    )
    inv = inv.join(F.broadcast(hot), "shingle", "left_anti")
    x = inv.alias("x")
    y = inv.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    common, union = _jaccard_parts("sh_a", "sh_b", th.SPARK)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.expr(common) / F.expr(union).cast("double"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _lsh_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs as an undirected edge list: the
    dedup_minhash_pairs candidate+verify pipeline over ALL buckets
    (no ``LSH_BUCKET_CAP``; its oracle ``_duck_cluster_sql`` has none
    either), minus output shaping."""
    sigs = _minhash_sigs(spark, sf_dir)
    return _lsh_verified_pairs(sigs, bands_for(sigs)).select("doc_a", "doc_b")


MAX_CC_ITERATIONS = 20


def _duck_cluster_sql() -> str:
    jc, ju = _jaccard_parts("a.shh", "b.shh", th.DUCK)
    band_case = " ".join(
        f"WHEN {b} THEN {_band_key(b, th.DUCK)}" for b in range(N_BANDS)
    )
    sql = (
        _signatures_sql(th.DUCK)
        + f""", bands AS (
        SELECT doc_id, b.band_id,
               CASE b.band_id {band_case} END AS band_key
        FROM sigs, (VALUES (0),(1),(2),(3)) b(band_id)
      ), cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
         AND x.doc_id < y.doc_id
      ), edges AS (
        SELECT doc_a, doc_b
        FROM cand JOIN sigs a ON doc_a = a.doc_id
                  JOIN sigs b ON doc_b = b.doc_id
        WHERE {jc} / CAST({ju} AS DOUBLE) >= {JACCARD_THRESHOLD}
      ), bidir AS (
        SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges
      ), nodes AS (
        SELECT DISTINCT src AS node FROM bidir
      ), reach AS (
        SELECT node, node AS label FROM nodes
        UNION
        SELECT e.dst AS node, r.label FROM reach r JOIN bidir e ON e.src = r.node
      )
      SELECT node AS doc_id, min(label) AS cluster_id
      FROM reach GROUP BY node ORDER BY doc_id"""
    )
    # min-label propagation needs the transitive closure -> RECURSIVE
    return sql.replace("WITH tok AS", "WITH RECURSIVE tok AS", 1)


# Partitioning for the propagation loop: the pair graph is orders of
# magnitude smaller than the corpus (it holds near-dup EDGES, not
# documents), so the loop runs on few partitions; at cluster scale set
# this ~ |edges| / a few million.
CC_PARTITIONS = 8


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup pair graph via
    iterative min-label propagation (see ``dedup_clusters``) —
    memoized per (application, sf_dir): the loop runs eager per-round
    checkpoints and driver-side convergence counts, and its two
    consumers (clusters, cluster-size profile) plus bench repeats
    otherwise re-run every round; the final labels are already a
    materialized LogicalRDD, so later callers just read it. A loop
    that raises stores nothing, so the next call runs it again."""
    return session_memo(
        spark,
        frame_memo_tag(sf_dir, "cc_labels"),
        lambda: _cluster_labels_build(spark, sf_dir),
    )


def _cluster_labels_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _lsh_edges(spark, sf_dir)
    # symmetrize by exploding a 2-array of structs — a self-union
    # would run the whole LSH candidate+verify pipeline once per
    # branch during the cache build (guide §2.4; the itemitem lesson).
    # A plain cache, not a session entry: the loop is its only reader
    # and unpersists it on the way out, success or not.
    bidir = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition(CC_PARTITIONS, "src")
        .cache()
    )
    labels = disk_checkpoint(
        bidir.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )
    try:
        for _ in range(MAX_CC_ITERATIONS):
            neighbor_min = (
                bidir.join(labels, bidir.src == labels.node)
                .groupBy("dst")
                .agg(F.min("label").alias("nbr_label"))
            )
            # the `changed` flag rides the checkpointed frame, so detecting
            # convergence is a scan of already-materialized partitions —
            # no extra join/shuffle per round
            new_labels = (
                labels.join(neighbor_min, labels.node == neighbor_min.dst, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", F.col("label"))
                    ).alias("new_label"),
                    (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias(
                        "changed"
                    ),
                )
                .withColumnRenamed("new_label", "label")
            )
            # DISK_ONLY level via disk_checkpoint (r14): memory-level
            # checkpoint blocks compete with the session's cached
            # frames in the storage pool (see sources/tables.py)
            new_labels = disk_checkpoint(new_labels)
            changed = new_labels.where("changed").count()
            labels = new_labels.select("node", "label")
            if changed == 0:
                break
        else:
            # a component with diameter > MAX_CC_ITERATIONS would exit with
            # wrong labels — refuse to ship them silently
            raise RuntimeError(
                f"connected-components did not converge in {MAX_CC_ITERATIONS} "
                f"iterations ({changed} labels still changing); raise "
                "MAX_CC_ITERATIONS or switch to large-star/small-star"
            )
    finally:
        bidir.unpersist()
    return labels


@query("dedup_clusters", oracle=_duck_cluster_sql())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash-LSH pair graph, labels = component-minimum doc_id. This is
    the step LLM dedup actually ships (pairs alone over-delete:
    A~B, B~C must keep ONE of {A,B,C}, not zero).

    Spark side: iterative min-label propagation — per round, each node
    takes the min of its label and its neighbors' labels; converges in
    O(component diameter) rounds (bounded by MAX_CC_ITERATIONS;
    near-dup components are shallow). Each round is one shuffle;
    ``localCheckpoint`` truncates the growing lineage. At 100 TB the
    same loop runs with the large-star/small-star optimization
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    noted, not needed at these diameters. The DuckDB oracle computes
    the identical fixpoint via a recursive CTE (transitive closure +
    min) — same answer, different engine idiom.

    Driver-coordination note: the LOOP is control flow on tiny
    aggregates (one count per round); all data math stays distributed.
    """
    return _cluster_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


@query(
    "dedup_cluster_survivors",
    oracle=_duck_cluster_sql().replace(
        """SELECT node AS doc_id, min(label) AS cluster_id
      FROM reach GROUP BY node ORDER BY doc_id""",
        """, comp AS (
        SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
      )
      SELECT cluster_id AS survivor_id,
             count(*) AS cluster_size
      FROM comp GROUP BY cluster_id ORDER BY survivor_id""",
    ),
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor policy over clusters: keep the minimum doc_id of each
    near-dup component; report component sizes. Downstream dedup =
    anti-join documents against (cluster members - survivors)."""
    clusters = _cluster_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    return (
        clusters.groupBy(F.col("cluster_id").alias("survivor_id"))
        .agg(F.count("*").alias("cluster_size"))
        .orderBy("survivor_id")
    )


# --- asymmetric containment (quote / subset detection) ---------------

CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_shingle_set(th.DUCK)} AS sh FROM documents
    ), inv AS (
      SELECT doc_id, unnest(sh) AS shingle FROM sh
    ), df AS (
      SELECT shingle FROM inv GROUP BY shingle
      HAVING count(*) <= {SHINGLE_DF_CAP}
    ), inv_capped AS (
      SELECT inv.doc_id, inv.shingle FROM inv JOIN df USING (shingle)
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM inv_capped x
      JOIN inv_capped y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
    ), verified AS (
      SELECT doc_a, doc_b,
             {_jaccard_parts('a.sh', 'b.sh', th.DUCK)[0]} AS n_common,
             CAST(len(a.sh) AS BIGINT) AS n_a,
             CAST(len(b.sh) AS BIGINT) AS n_b
      FROM cand JOIN sh a ON doc_a = a.doc_id JOIN sh b ON doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, n_common, n_a, n_b,
           n_common / CAST(least(n_a, n_b) AS DOUBLE) AS containment
    FROM verified
    WHERE n_common / CAST(least(n_a, n_b) AS DOUBLE)
            >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT
    (Broder 1997's second resemblance measure): |A∩B| / min(|A|,|B|).
    Jaccard misses a short document quoted whole inside a long one
    (the union term swamps the overlap); containment flags exactly
    that quote/subset relationship — the screen a training-data
    pipeline runs for boilerplate wrappers and embedded licenses.

    Scale: identical candidate machinery to the exact Jaccard check —
    inverted shingle index with the document-frequency cap (hot
    shingles leave the index, never the verification sets), candidates
    verified only on joined shingle sets. Same quadratic guard, same
    broadcast anti-join."""
    sh = _shingle_sets(spark, sf_dir)
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    hot = (
        inv.groupBy("shingle")
        .count()
        .where(F.col("count") > SHINGLE_DF_CAP)
        .select("shingle")
    )
    inv = inv.join(F.broadcast(hot), "shingle", "left_anti")
    x = inv.alias("x")
    y = inv.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    common, _ = _jaccard_parts("sh_a", "sh_b", th.SPARK)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(common).alias("n_common"),
            F.size("sh_a").cast("bigint").alias("n_a"),
            F.size("sh_b").cast("bigint").alias("n_b"),
        )
        .withColumn(
            "containment",
            F.col("n_common") / F.least("n_a", "n_b").cast("double"),
        )
        .where(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "containment")
        .orderBy("doc_a", "doc_b")
    )


# --- LSH band-bucket diagnostics ------------------------------------


@query(
    "dedup_band_stats",
    oracle=_signatures_sql(th.DUCK)
    + f""", buckets AS (
      SELECT band_id, band_key, count(*) AS bucket_size
      FROM (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, {_band_key(b, th.DUCK)} AS band_key FROM sigs"
            for b in range(N_BANDS)
        )}
      )
      GROUP BY band_id, band_key
    )
    SELECT CAST(band_id AS INT) AS band_id,
           count(*) AS n_buckets,
           CAST(MAX(bucket_size) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN bucket_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_colliding,
           CAST(SUM(CASE WHEN bucket_size > {LSH_BUCKET_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_over_cap,
           CAST(SUM(bucket_size * (bucket_size - 1) / 2) AS BIGINT)
             AS candidate_pairs
    FROM buckets
    GROUP BY band_id ORDER BY band_id
    """,
)
def dedup_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket health check: per band, how many buckets exist,
    the hottest bucket, how many buckets actually collide (produce
    candidates), how many exceed LSH_BUCKET_CAP (and are therefore
    dropped by the capped pair join), and the total candidate-pair
    volume sum(k*(k-1)/2). This is the 'measure, don't guess' gauge
    for the quadratic guard the near-dup pipeline relies on at 100 TB
    — run it on a new corpus BEFORE trusting the cap.

    Scale: one shuffle keyed on (band_id, band_key) with map-side
    partial counts; the bucket table reduces to N_BANDS rows. Reads
    the shared ``minhash_sigs`` session cache (see
    dedup_minhash_signatures)."""
    bands = bands_for(_minhash_sigs(spark, sf_dir))
    buckets = bands.groupBy("band_id", "band_key").agg(
        F.count("*").alias("bucket_size")
    )
    pairs = (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2).cast(
        "bigint"
    )
    return (
        buckets.groupBy(F.col("band_id").cast("int").alias("band_id"))
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("bucket_size").cast("bigint").alias("max_bucket"),
            F.sum(F.when(F.col("bucket_size") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_colliding"),
            F.sum(
                F.when(F.col("bucket_size") > LSH_BUCKET_CAP, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_over_cap"),
            F.sum(pairs).cast("bigint").alias("candidate_pairs"),
        )
        .orderBy("band_id")
    )


@query(
    "dedup_prefixfilter_pairs",
    # Prefix length below is |A| - ceil(t|A|) + 1 specialized to
    # t = 0.5: sz DIV 2 + 1 (integer form on both engines - DuckDB //
    # and Spark DIV - so no float ceil crosses the hash boundary).
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_shingle_set(th.DUCK)} AS sh FROM documents
    ), inv AS (
      SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM sh
    ), dfreq AS (
      SELECT shingle, count(*) AS df FROM inv GROUP BY shingle
    ), ranked AS (
      SELECT i.doc_id, i.sz, i.shingle,
             row_number() OVER (
               PARTITION BY i.doc_id ORDER BY d.df, i.shingle
             ) AS pos
      FROM inv i JOIN dfreq d USING (shingle)
    ), pref AS (
      SELECT doc_id, sz, shingle FROM ranked WHERE pos <= sz // 2 + 1
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM pref x JOIN pref y
        ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      WHERE 2 * least(x.sz, y.sz) >= greatest(x.sz, y.sz)
    ), verified AS (
      SELECT doc_a, doc_b,
             {_jaccard_parts('a.sh', 'b.sh', th.DUCK)[0]} AS n_common,
             {_jaccard_parts('a.sh', 'b.sh', th.DUCK)[1]} AS n_union
      FROM cand JOIN sh a ON doc_a = a.doc_id JOIN sh b ON doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, n_common / CAST(n_union AS DOUBLE) AS jaccard
    FROM verified
    WHERE n_common / CAST(n_union AS DOUBLE) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_prefixfilter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup pairs via PPJoin-style prefix filtering
    (Xiao et al., WWW'08): order each document's shingles rarest-first
    (global df, then value), index only the first |A| - ceil(t|A|) + 1
    of them, and generate candidates from prefix collisions plus the
    t <= min/max length filter. EXACT at threshold t - two sets with
    J >= t MUST collide in their prefixes - unlike the df-capped
    inverted index (``dedup_ngram_jaccard_pairs``), which trades a
    recall tail for its cap.

    Scale: boilerplate shingles have the HIGHEST df, so they sort last
    and fall outside every prefix - the hot-key quadratic blowup the
    df-cap guards against never enters the index here, with no recall
    loss. Index size is ~half the inverted index; candidates are an
    equi-join on prefix shingles; verification runs only on survivors
    of the length filter. The df table is one extra map-side-combined
    aggregation, amortizable across runs at 100 TB."""
    from pyspark.sql.window import Window

    sh = _shingle_sets(spark, sf_dir)
    inv = sh.select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("shingle")
    )
    dfreq = inv.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = inv.join(dfreq, "shingle").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")
        ),
    )
    # Materialize the prefix index ONCE via the session cache: the
    # self-join below otherwise re-executes the whole explode ->
    # df-aggregate -> join -> window subtree per side (r13 plan
    # capture showed the subtree duplicated under both join inputs).
    # An InMemoryRelation (unlike a checkpoint, which the r13 A/B
    # measured at 2x WORSE, 6.9s -> 12.7s) keeps Catalyst statistics,
    # so the candidate join still plans its broadcasts; concurrent
    # first readers compute each partition once under the cache lock.
    # This is the PPJoin "build the index, then probe it" step made
    # explicit — one corpus-scale index build, probed by both sides.
    pref = session_cached(
        spark,
        frame_memo_tag(sf_dir, "ppjoin_prefix"),
        lambda: ranked.where(F.col("pos") <= F.expr("sz DIV 2 + 1")).select(
            "doc_id", "sz", "shingle"
        ),
    )
    x = pref.alias("x")
    y = pref.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .where(
            2 * F.least(F.col("x.sz"), F.col("y.sz"))
            >= F.greatest(F.col("x.sz"), F.col("y.sz"))
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    common, union = _jaccard_parts("sh_a", "sh_b", th.SPARK)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.expr(common) / F.expr(union).cast("double"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# --- LSH candidate-recall evaluation --------------------------------------


@query(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH truth AS (
      SELECT doc_a, doc_b FROM ({ORACLE["dedup_ngram_jaccard_pairs"]}) t
    ), lsh AS (
      SELECT doc_a, doc_b FROM ({ORACLE["dedup_minhash_pairs"]}) l
    ), j AS (
      SELECT CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth,
             CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_lsh
      FROM truth t FULL JOIN lsh l
        ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
    )
    SELECT CAST(SUM(in_truth) AS BIGINT) AS n_true_pairs,
           CAST(SUM(in_lsh) AS BIGINT) AS n_lsh_pairs,
           CAST(SUM(in_truth * in_lsh) AS BIGINT) AS n_found,
           CAST(SUM(in_truth * in_lsh) AS DOUBLE)
             / CAST(SUM(in_truth) AS DOUBLE) AS recall,
           CAST(SUM(in_truth * in_lsh) AS DOUBLE)
             / CAST(SUM(in_lsh) AS DOUBLE) AS precision
    FROM j
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the MinHash-LSH near-dup detector against
    the exact inverted-index ground truth — the eval every dedup
    deployment owes its banding parameters (b bands x r rows trade
    recall against candidate volume; this measures where the current
    setting lands). Post-verification precision is 1.0 BY CONSTRUCTION
    (candidates are exact-Jaccard verified), so the number that moves
    is candidate recall: true pairs whose signatures never collide in
    any band are invisible to LSH, and this query counts exactly them.
    The dedup analog of ``ann_recall_eval``.

    Scale: composes the two registered pair queries (each with its own
    hot-key caps and cached signature/shingle frames); the comparison
    is ONE full outer join on the pair key into a single-row exact
    aggregate, with both rates as cast-first divisions."""
    truth = dedup_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("ta"), F.col("doc_b").alias("tb")
    )
    lsh = dedup_minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("la"), F.col("doc_b").alias("lb")
    )
    j = truth.join(
        lsh,
        (F.col("ta") == F.col("la")) & (F.col("tb") == F.col("lb")),
        "full_outer",
    ).select(
        F.col("ta").isNotNull().cast("int").alias("in_truth"),
        F.col("la").isNotNull().cast("int").alias("in_lsh"),
    )
    return j.agg(
        F.sum("in_truth").cast("bigint").alias("n_true_pairs"),
        F.sum("in_lsh").cast("bigint").alias("n_lsh_pairs"),
        F.sum(F.col("in_truth") * F.col("in_lsh"))
        .cast("bigint")
        .alias("n_found"),
        (
            F.sum(F.col("in_truth") * F.col("in_lsh")).cast("double")
            / F.sum("in_truth").cast("double")
        ).alias("recall"),
        (
            F.sum(F.col("in_truth") * F.col("in_lsh")).cast("double")
            / F.sum("in_lsh").cast("double")
        ).alias("precision"),
    )


# --- LSH S-curve validation -------------------------------------------------

SCURVE_BANDS = 20  # jaccard bands of width 1/20


def _scurve_analytic(band: int) -> str:
    """Analytic LSH detection probability 1-(1-s^r)^b at the band's
    LOWER edge s = band/SCURVE_BANDS, with r = N_MINHASH // N_BANDS
    rows per band and b = N_BANDS bands — emitted as an EXACT integer
    fraction cast to double once (a float literal is NOT portable:
    DuckDB parses long decimal literals through DECIMAL and can land
    one ulp away from Python/Spark's repr round-trip)."""
    r = N_MINHASH // N_BANDS
    m = SCURVE_BANDS**r
    den = m**N_BANDS
    num = den - (m - band**r) ** N_BANDS
    return f"(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"


def _scurve_case() -> str:
    """The band -> analytic-probability CASE ladder, generated ONCE and
    used verbatim by both engines; the start band derives from
    JACCARD_THRESHOLD so the coverage tracks the truth query."""
    start = int(JACCARD_THRESHOLD * SCURVE_BANDS)
    return "CASE band " + " ".join(
        f"WHEN {band} THEN {_scurve_analytic(band)}"
        for band in range(start, SCURVE_BANDS + 1)
    ) + " END"


def _scurve_oracle() -> str:
    return f"""
    WITH truth AS (
      SELECT doc_a, doc_b,
             CAST(floor(jaccard * {SCURVE_BANDS}) AS BIGINT) AS band
      FROM ({ORACLE["dedup_ngram_jaccard_pairs"]}) t
    ), lsh AS (
      SELECT doc_a, doc_b FROM ({ORACLE["dedup_minhash_pairs"]}) l
    ), j AS (
      SELECT t.band,
             CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END AS detected
      FROM truth t LEFT JOIN lsh l
        ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
    )
    SELECT band AS jaccard_band,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(SUM(detected) AS BIGINT) AS n_detected,
           CAST(SUM(detected) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS detect_rate,
           {_scurve_case()} AS analytic_floor_prob
    FROM j GROUP BY band ORDER BY jaccard_band
    """


@query("dedup_lsh_scurve_eval", oracle=_scurve_oracle())
def dedup_lsh_scurve_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve, measured against theory: true near-dup pairs
    bucketed by exact Jaccard band, each band's measured detection
    rate next to the analytic banding probability 1-(1-s^r)^b at the
    band's lower edge — the plot every MinHash deployment draws to
    pick (b, r). Detection should track the S-curve and exceed the
    lower-edge bound as similarity rises; a band falling visibly
    below it means the signature or banding implementation is broken
    — this is the parameter-sweep companion to
    ``dedup_lsh_recall_eval``'s single recall number. The analytic
    curve is computed once in Python and embedded as identical
    literals in both engines, so the whole row hashes exactly.

    Scale: composes the two registered pair queries (hot-key-capped,
    cached signatures); the comparison is one pair-keyed left join
    into a band-bounded aggregate."""
    truth = dedup_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("ta"),
        F.col("doc_b").alias("tb"),
        F.floor(F.col("jaccard") * SCURVE_BANDS).cast("bigint").alias("band"),
    )
    lsh = dedup_minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("la"), F.col("doc_b").alias("lb")
    )
    j = truth.join(
        lsh,
        (F.col("ta") == F.col("la")) & (F.col("tb") == F.col("lb")),
        "left",
    ).select(
        "band", F.col("la").isNotNull().cast("int").alias("detected")
    )
    analytic = F.expr(_scurve_case())
    return (
        j.groupBy(F.col("band").alias("jaccard_band"))
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.sum("detected").cast("bigint").alias("n_detected"),
            (
                F.sum("detected").cast("double")
                / F.count("*").cast("double")
            ).alias("detect_rate"),
        )
        .withColumn("band", F.col("jaccard_band"))
        .withColumn("analytic_floor_prob", analytic)
        .drop("band")
        .orderBy("jaccard_band")
    )


# --- exact-substring duplication profile ----------------------------

DUPSPAN_N = 4  # word n-gram width; 4 splits the fixture corpus well
# (n=3 marks 65% of occurrences duplicated, n=4 ~12% — measured)


def _dupspan_base_sql() -> str:
    """DuckDB side of the positional shingle-hash base: one row per
    document with its token count and the positional (non-distinct)
    n-gram hash list."""
    toks = th.tokens("text", th.DUCK)
    th_arr = th.reduced_token_hashes("t", th.DUCK)
    ph = th.shingle_hashes_pos("th_arr", DUPSPAN_N, th.DUCK)
    return f"""
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, {ph} AS ph
      FROM (SELECT doc_id, t, {th_arr} AS th_arr
            FROM (SELECT doc_id, {toks} AS t FROM documents))
    """


def _dupspan_ctes() -> str:
    """Shared CTE chain: positional base, occurrence explode, the
    cross-doc duplicated hash set, and the duplicated start positions
    — consumed by the coverage profile AND the span cut plan."""
    return f"""base AS ({_dupspan_base_sql()}),
    occ AS (
      SELECT doc_id, unnest(range(1, len(ph) + 1)) AS pos, unnest(ph) AS h
      FROM base
    ), dup AS (
      SELECT h FROM occ GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), dup_occ AS (
      SELECT doc_id, pos FROM occ JOIN dup USING (h)
    )"""


def _dupspan_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(cached positional base, duplicated start positions) — the
    Spark mirror of ``_dupspan_ctes``."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = th.tokens("text", th.SPARK)
    base = session_cached(
        spark,
        frame_memo_tag(sf_dir, "dupspan_base"),
        lambda: docs.select(
            "doc_id",
            F.expr(f"size({toks})").cast("bigint").alias("n_tokens"),
            F.expr(th.reduced_token_hashes(toks, th.SPARK)).alias("th_arr"),
        ).select(
            "doc_id",
            "n_tokens",
            F.expr(
                th.shingle_hashes_pos("th_arr", DUPSPAN_N, th.SPARK)
            ).alias("ph"),
        ),
        # cached: consumed by occ (explode) AND the final per-doc join
    )
    occ = base.select(
        "doc_id", F.posexplode("ph").alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    dup = (
        occ.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    # Materialize the duplicated-start set ONCE PER SESSION: the
    # coverage profile consumes it twice (covered + starts), the span
    # cut plan again, and the r13 form (a bare disk_checkpoint) re-ran
    # the explode + distinct-doc aggregate + semi-join EAGERLY on
    # every construction — each bench repeat and each consumer paid
    # the full build (r14: first == min in isolated profiling).
    # dup_occ is two ints per duplicated position — the lightweight
    # decision set of guide §8 — so the materialization is small
    # relative to the passes it removes.
    dup_occ = session_checkpointed(
        spark,
        frame_memo_tag(sf_dir, "dupspan_dup_occ"),
        lambda: occ.join(dup, "h", "left_semi"),
    )
    return base, dup_occ


@query(
    "dedup_repeated_ngram_coverage",
    oracle=f"""
    WITH {_dupspan_ctes()}, covered AS (
      SELECT doc_id, count(*) AS covered_tokens FROM (
        SELECT DISTINCT doc_id, p FROM (
          SELECT doc_id, unnest(range(pos, pos + {DUPSPAN_N})) AS p
          FROM dup_occ
        )
      ) GROUP BY doc_id
    ), starts AS (
      SELECT doc_id, count(*) AS n_dup_ngrams FROM dup_occ GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           CAST(len(b.ph) AS BIGINT) AS n_positions,
           CAST(COALESCE(s.n_dup_ngrams, 0) AS BIGINT) AS n_dup_ngrams,
           CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           COALESCE(c.covered_tokens, 0) / CAST(b.n_tokens AS DOUBLE)
               AS dup_coverage
    FROM base b
    LEFT JOIN starts s USING (doc_id)
    LEFT JOIN covered c USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def dedup_repeated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (the span-level view of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): for every document, how many of its word-{DUPSPAN_N}-gram
    start positions carry an n-gram that occurs at >= 2 positions in
    >= 2 DISTINCT documents, and what fraction of the document's tokens
    is covered by the union of those duplicated spans — the signal that
    drives span-level (rather than whole-document) dedup cuts.

    Reference scope: the reference pipeline has no text dedup at all
    (SURVEY.md §0) — this extends the dedup suite the LLM-training
    brief demands.

    Scale: positional shingle hashes are pure integer math over token
    hashes (one md5 pass per token, shared via the cached base); the
    duplicated-shingle set is a hash-keyed partial aggregate (8-byte
    keys, map-side combined); occurrences rejoin it with a LEFT SEMI
    on the same key — never all-pairs, and hot boilerplate n-grams
    cost O(their occurrences), not O(occurrences^2). Span-union
    coverage explodes each duplicated start into {DUPSPAN_N} positions
    (bounded fan-out) and distinct-counts per doc_id — all shuffles
    are keyed by hash or doc_id and scale linearly with corpus tokens.
    """
    base, dup_occ = _dupspan_frames(spark, sf_dir)
    # one aggregation instead of distinct()+groupBy(): count_distinct
    # plans a partial (doc_id, p) dedup below ONE doc_id exchange —
    # the two-step form paid a second full shuffle on (doc_id, p)
    # (guide §2.4); identical exact integers
    covered = (
        dup_occ.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (DUPSPAN_N - 1))
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("p").alias("covered_tokens"))
    )
    starts = dup_occ.groupBy("doc_id").agg(F.count("*").alias("n_dup_ngrams"))
    return (
        base.join(starts, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.size("ph").cast("bigint").alias("n_positions"),
            F.coalesce(F.col("n_dup_ngrams"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_ngrams"),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("bigint")
            .alias("covered_tokens"),
            (
                F.coalesce(F.col("covered_tokens"), F.lit(0))
                / F.col("n_tokens").cast("double")
            ).alias("dup_coverage"),
        )
        .orderBy("doc_id")
    )


# --- train/val/test near-dup leakage audit --------------------------


def _split_leakage_sql() -> str:
    from end2end_data_pipeline_spark.operators.sampling import split_case_sql

    return f"""
    WITH pairs AS ({ORACLE["dedup_minhash_pairs"]}),
    assigned AS (
      SELECT doc_id, {split_case_sql(th.DUCK)} AS split FROM documents
    ), labeled AS (
      SELECT p.doc_a, p.doc_b, p.jaccard,
             LEAST(sa.split, sb.split) AS split_lo,
             GREATEST(sa.split, sb.split) AS split_hi
      FROM pairs p
      JOIN assigned sa ON p.doc_a = sa.doc_id
      JOIN assigned sb ON p.doc_b = sb.doc_id
    ), pair_stats AS (
      SELECT split_lo, split_hi,
             CAST(count(*) AS BIGINT) AS n_pairs,
             MAX(jaccard) AS max_jaccard
      FROM labeled GROUP BY split_lo, split_hi
    ), involved AS (
      SELECT split_lo, split_hi,
             CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_involved
      FROM (
        SELECT split_lo, split_hi, doc_a AS doc FROM labeled
        UNION ALL
        SELECT split_lo, split_hi, doc_b AS doc FROM labeled
      ) GROUP BY split_lo, split_hi
    )
    SELECT p.split_lo, p.split_hi, p.n_pairs, i.n_docs_involved,
           p.max_jaccard
    FROM pair_stats p JOIN involved i USING (split_lo, split_hi)
    ORDER BY p.split_lo, p.split_hi
    """


@query("split_leakage_neardup_audit", oracle=_split_leakage_sql())
def split_leakage_neardup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination census: label both ends of every
    verified MinHash near-dup pair with the canonical content-keyed
    train/val/test assignment and count pairs (plus the distinct
    documents involved and the worst Jaccard) per unordered split
    combination. The (train, test) and (train, val) rows are the
    leakage a contamination screen against EXTERNAL eval sets never
    sees: eval examples whose near-copies sit inside the training
    split itself. Composes dedup_minhash_pairs (cached signatures,
    bucket-capped banding) with sampling.split_case_sql — one rule
    for every split-aware surface.

    Scale: the pair set is the LSH output (bucket-capped, far smaller
    than the corpus); both split lookups are doc_id-keyed equi-joins
    of that pair set against a 2-column projection of documents; the
    census is an O(#split-combos) aggregate. max_jaccard is a MAX
    over per-pair doubles that are themselves exact-integer ratios —
    selection, not accumulation, so engine-portable."""
    from end2end_data_pipeline_spark.operators.sampling import split_case_sql

    pairs = dedup_minhash_pairs(spark, sf_dir)
    assigned = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(split_case_sql(th.SPARK)).alias("split")
    )
    labeled = (
        pairs.join(
            assigned.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            assigned.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        # Materialize ONCE: three consumers below (pair_stats + both
        # arms of the involved union) otherwise re-execute the whole
        # MinHash pipeline per branch (r13 plan capture: 87 Exchange
        # nodes). The pair set is the LSH output — far smaller than
        # the corpus — so this is a tiny write that removes two full
        # pipeline re-runs (guide §2.4: remove shuffles outright).
        # DISK_ONLY via disk_checkpoint (r14 consistency audit): the
        # pair set is small but UNBOUNDED in the corpus, so its blocks
        # must not compete with the session's cached working set (the
        # r13 finding that motivated disk_checkpoint; tables.py note).
        # Memoized per (session, sf_dir): the bare checkpoint form
        # re-ran the whole MinHash pipeline eagerly on EVERY
        # construction (each bench repeat), not just once per session.
    )
    labeled = session_checkpointed(
        spark, frame_memo_tag(sf_dir, "split_leakage_labeled"), lambda: labeled
    )
    pair_stats = labeled.groupBy("split_lo", "split_hi").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.max("jaccard").alias("max_jaccard"),
    )
    involved = (
        labeled.select("split_lo", "split_hi", F.col("doc_a").alias("doc"))
        .unionAll(
            labeled.select("split_lo", "split_hi", F.col("doc_b").alias("doc"))
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count_distinct("doc").cast("bigint").alias("n_docs_involved"))
    )
    return (
        pair_stats.join(involved, ["split_lo", "split_hi"])
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            "n_docs_involved",
            "max_jaccard",
        )
        .orderBy("split_lo", "split_hi")
    )


@query(
    "dedup_span_cut_plan",
    oracle=f"""
    WITH {_dupspan_ctes()}, flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos)
                             + {DUPSPAN_N}
                  OR lag(pos) OVER (PARTITION BY doc_id
                                    ORDER BY pos) IS NULL
                  THEN 1 ELSE 0 END AS new_span
      FROM dup_occ
    ), islands AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS span_id
      FROM flagged
    ), spans AS (
      SELECT doc_id, span_id,
             MIN(pos) AS span_start,
             MAX(pos) + {DUPSPAN_N} - 1 AS span_end
      FROM islands GROUP BY doc_id, span_id
    )
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(SUM(span_end - span_start + 1) AS BIGINT)
               AS tokens_to_cut,
           CAST(MAX(span_end - span_start + 1) AS BIGINT)
               AS longest_span
    FROM spans GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_span_cut_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable form of dedup_repeated_ngram_coverage: merge
    each document's duplicated {DUPSPAN_N}-gram starts into maximal
    contiguous cut spans (classic gaps-and-islands — a new span opens
    when a start position clears the previous start by more than the
    n-gram width, i.e. the covered intervals neither overlap nor
    touch) and report, per affected document, how many spans a
    span-level dedup pass would cut, how many tokens they remove, and
    the longest single cut. tokens_to_cut equals the coverage
    profile's covered_tokens by construction — the replay test pins
    that invariant.

    Scale: shares _dupspan_frames' cached base and hash-keyed
    duplicated-start discovery; the only new shuffle is the
    doc_id-partitioned window pair (lag + running sum — one exchange,
    two window passes over it), and window groups are bounded by a
    single document's positions. Output is one row per AFFECTED
    document."""
    _, dup_occ = _dupspan_frames(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup_occ.select(
        "doc_id",
        "pos",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + DUPSPAN_N),
            1,
        )
        .otherwise(0)
        .alias("new_span"),
    )
    islands = flagged.select(
        "doc_id",
        "pos",
        F.sum("new_span")
        .over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("span_id"),
    )
    spans = islands.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (DUPSPAN_N - 1)).alias("span_end"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("tokens_to_cut"),
            F.max(F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("longest_span"),
        )
        .orderBy("doc_id")
    )


_OVERLAP_TOKS_DUCK = th.tokens("text", th.DUCK)


@query(
    "source_shingle_overlap_matrix",
    oracle=f"""
    WITH arrs AS (
      SELECT source,
             {th.reduced_token_hashes(_OVERLAP_TOKS_DUCK, th.DUCK)} AS th_arr
      FROM documents
      WHERE len({_OVERLAP_TOKS_DUCK}) >= {SHINGLE_N}
    ), sh AS (
      SELECT DISTINCT source, shh FROM (
        SELECT source,
               unnest({th.shingle_combine('th_arr', SHINGLE_N, th.DUCK)}) AS shh
        FROM arrs
      )
    ), per AS (
      SELECT source, count(*) AS n FROM sh GROUP BY source
    ), pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             count(*) AS n_shared
      FROM sh a JOIN sh b ON a.shh = b.shh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_shared, pa.n AS n_a, pb.n AS n_b,
           n_shared / CAST(pa.n + pb.n - n_shared AS DOUBLE) AS jaccard,
           n_shared / CAST(LEAST(pa.n, pb.n) AS DOUBLE) AS containment
    FROM pairs
    JOIN per pa ON pa.source = pairs.src_a
    JOIN per pb ON pb.source = pairs.src_b
    ORDER BY src_a, src_b
    """,
)
def source_shingle_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source redundancy matrix: distinct hashed word-{SHINGLE_N}-gram
    Jaccard / containment between every source pair that shares at
    least one shingle — the readout a curation team reads to decide
    WHICH sources to dedup against which (high containment of a small
    source in a big one means the small source adds little novel text)
    and to order near-dup passes by expected yield.

    Scale: the corpus is touched once (one md5 pass per token, integer
    shingle combine, per-document-distinct shingles). The only
    corpus-sized shuffle groups by shingle hash with a map-side
    collect_set bounded by |sources|; pair expansion happens on the
    already-reduced per-hash source sets (<= C(|sources|, 2) rows per
    hash) and the per-source distinct counts are re-derived from those
    same sets, so no second corpus pass and no all-pairs document
    join exists anywhere. Output is O(|sources|^2) rows.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = th.tokens("text", th.SPARK)
    raw = (
        docs.where(F.expr(f"size({toks}) >= {SHINGLE_N}"))
        .select(
            "source",
            F.expr(th.reduced_token_hashes(toks, th.SPARK)).alias("th_arr"),
        )
        .select(
            "source",
            F.explode(
                F.expr(th.shingle_combine("th_arr", SHINGLE_N, th.SPARK))
            ).alias("shh"),
        )
    )
    by_hash = raw.groupBy("shh").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    # per-source distinct shingle counts, re-derived from the reduced
    # per-hash source sets (each (hash, source) appears exactly once)
    per = (
        by_hash.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        by_hash.where(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (a, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs)), "
                    "b -> struct(a AS src_a, b AS src_b))))"
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    pa = per.withColumnRenamed("source", "src_a").withColumnRenamed("n", "n_a")
    pb = per.withColumnRenamed("source", "src_b").withColumnRenamed("n", "n_b")
    return (
        pairs.join(F.broadcast(pa), "src_a")
        .join(F.broadcast(pb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
            (
                F.col("n_shared")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


KMV_K = 64  # k-minimum-values sketch size (RSE ~ 1/sqrt(k-2) ~ 12.7%)
KMV_DOMAIN = float(th.MINHASH_P)  # shingle-hash domain as an exact double


def _kmv_shingle_sets(dialect: str) -> str:
    """Distinct (source, shingle-hash) pairs — the set family the KMV
    sketches summarize (same shingle machinery as the exact matrix)."""
    toks = th.tokens("text", dialect)
    if dialect == th.SPARK:
        raise NotImplementedError("spark side built as a DataFrame")
    return f"""
      SELECT DISTINCT source, shh FROM (
        SELECT source,
               unnest({th.shingle_combine('th_arr', SHINGLE_N, th.DUCK)}) AS shh
        FROM (
          SELECT source,
                 {th.reduced_token_hashes(toks, th.DUCK)} AS th_arr
          FROM documents
          WHERE len({toks}) >= {SHINGLE_N}
        )
      )
    """


def _kmv_shingle_rows(docs: DataFrame) -> DataFrame:
    """Distinct (source, shingle-hash) rows from a documents frame —
    the set family the KMV sketches summarize (shared by the batch
    query and each streaming micro-batch)."""
    toks = th.tokens("text", th.SPARK)
    return (
        docs.where(F.expr(f"size({toks}) >= {SHINGLE_N}"))
        .select(
            "source",
            F.expr(th.reduced_token_hashes(toks, th.SPARK)).alias("th_arr"),
        )
        .select(
            "source",
            F.explode(
                F.expr(th.shingle_combine("th_arr", SHINGLE_N, th.SPARK))
            ).alias("shh"),
        )
        .distinct()
    )


def _kmv_sketches(sh: DataFrame) -> DataFrame:
    """(source, sorted k-min hash array) — the KMV sketch per source.

    PRECONDITION: ``sh`` must hold DISTINCT (source, shh) rows — a
    duplicate hash would occupy two of the k-min slots and corrupt
    the sketch. Both callers satisfy it (`_kmv_shingle_rows` ends in
    ``.distinct()``; the replay state is k-min rows of a distinct
    merge).

    Plan shape (asserted in tests/test_plan_audit.py): the
    ``row_number() <= k`` rank filter triggers Spark's
    WindowGroupLimit pushdown — a PARTIAL top-k per map partition
    below the exchange — so only <= k rows per (source, partition)
    shuffle, not every distinct shingle hash."""
    rn = F.row_number().over(Window.partitionBy("source").orderBy("shh"))
    return (
        sh.withColumn("rn", rn)
        .where(F.col("rn") <= KMV_K)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("shh")).alias("sketch"))
    )


def _kmv_pair_scores(sk: DataFrame, extra: str | None = None) -> DataFrame:
    """Pairwise (src_a, src_b, est_union, inter_in_u, n_u) purely from
    the sketch frame — the theta-sketch algebra shared by the batch
    query and the streaming replay.

    Pair generation collapses the per-source frame to ONE row
    (``collect_list`` of (source, sketch) structs, O(|sources| x k)
    values — the same bytes the old shape BROADCAST as the join's
    build side) and explodes the a < b combinations from it, exactly
    like the exact matrix's source-set pair explode. The previous
    ``sk.alias(a) x broadcast(sk.alias(b))`` non-equi self-join
    planned a BroadcastNestedLoopJoin whose two inputs each carried a
    FULL copy of the sketch-build subtree (window top-k over the
    corpus-scale shingle frame), so every execution ran the sketch
    pass twice (r14, guide §2.4: duplicated subtrees).

    ``extra`` names one additional per-source column to carry into
    the pair rows as ``<extra>_a`` / ``<extra>_b`` (the batch query
    rides its exact per-source counts through here instead of two
    more broadcast joins whose build sides re-aggregated the corpus).
    """
    cols = ["source", "sketch"] + ([extra] if extra else [])
    carry = (
        f", a.{extra} AS {extra}_a, b.{extra} AS {extra}_b" if extra else ""
    )
    one = sk.agg(
        F.sort_array(F.collect_list(F.struct(*cols))).alias("xs")
    )
    prs = one.select(
        F.explode(
            F.expr(
                "flatten(transform(xs, (a, i) -> "
                "transform(slice(xs, i + 2, size(xs)), "
                "b -> struct(a.source AS src_a, b.source AS src_b, "
                "a.sketch AS sa, b.sketch AS sb" + carry + "))))"
            )
        ).alias("p")
    ).select("p.*")
    extra_cols = [f"{extra}_a", f"{extra}_b"] if extra else []
    prs = prs.select(
        "src_a",
        "src_b",
        F.expr("array_sort(array_distinct(concat(sa, sb)))").alias("merged"),
        "sa",
        "sb",
        *extra_cols,
    )
    return prs.select(
        "src_a",
        "src_b",
        F.expr(f"slice(merged, 1, least(size(merged), {KMV_K}))").alias("u"),
        F.size("merged").alias("n_merged"),
        "sa",
        "sb",
        *extra_cols,
    ).select(
        "src_a",
        "src_b",
        F.expr(
            f"CASE WHEN n_merged < {KMV_K} THEN CAST(n_merged AS DOUBLE) "
            f"ELSE ({KMV_K} - 1) * {KMV_DOMAIN!r} "
            f"/ CAST(element_at(u, {KMV_K}) AS DOUBLE) END"
        ).alias("est_union"),
        F.expr(
            "CAST(size(filter(u, x -> array_contains(sa, x) "
            "AND array_contains(sb, x))) AS BIGINT)"
        ).alias("inter_in_u"),
        F.expr("CAST(size(u) AS BIGINT)").alias("n_u"),
        *extra_cols,
    ).withColumn(
        "est_inter",
        (F.col("inter_in_u") * F.col("est_union"))
        / F.col("n_u").cast("double"),
    )


def _kmv_oracle_sql(include_exact: bool) -> str:
    """The KMV estimate oracle, with or without the exact yardstick
    columns — shared by the batch query and the streaming replay so
    the two estimator definitions can never drift."""
    exact_cols = """
           ea.n AS exact_a, eb.n AS exact_b,
           COALESCE(i.exact_inter, 0) AS exact_inter,""" if include_exact else ""
    exact_joins = """
    JOIN exact ea ON ea.source = s.src_a
    JOIN exact eb ON eb.source = s.src_b
    LEFT JOIN inter i ON i.src_a = s.src_a AND i.src_b = s.src_b""" if include_exact else ""
    return f"""
    WITH sh AS ({_kmv_shingle_sets(th.DUCK)}
    ), exact AS (
      SELECT source, count(*) AS n FROM sh GROUP BY source
    ), ranked AS (
      SELECT source, shh,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY shh) AS rn
      FROM sh
    ), sk AS (
      SELECT source, list(shh ORDER BY shh) AS sketch
      FROM ranked WHERE rn <= {KMV_K} GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS exact_inter
      FROM sh a JOIN sh b ON a.shh = b.shh AND a.source < b.source
      GROUP BY 1, 2
    ), prs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             list_sort(list_distinct(a.sketch || b.sketch)) AS merged,
             a.sketch AS sa, b.sketch AS sb
      FROM sk a JOIN sk b ON a.source < b.source
    ), est AS (
      SELECT src_a, src_b,
             merged[1 : LEAST(len(merged), {KMV_K})] AS u,
             sa, sb, len(merged) AS n_merged
      FROM prs
    ), scored AS (
      SELECT src_a, src_b,
             CASE WHEN n_merged < {KMV_K}
                  THEN CAST(n_merged AS DOUBLE)
                  ELSE ({KMV_K} - 1) * {KMV_DOMAIN!r}
                       / CAST(u[{KMV_K}] AS DOUBLE) END AS est_union,
             CAST(len(list_filter(u, x ->
                    list_contains(sa, x) AND list_contains(sb, x)))
                  AS BIGINT) AS inter_in_u,
             CAST(len(u) AS BIGINT) AS n_u
      FROM est
    )
    SELECT s.src_a, s.src_b,{exact_cols}
           s.est_union,
           (s.inter_in_u * s.est_union) / CAST(s.n_u AS DOUBLE)
               AS est_inter
    FROM scored s{exact_joins}
    ORDER BY s.src_a, s.src_b
    """


@query("source_shingle_overlap_kmv", oracle=_kmv_oracle_sql(True))
def source_shingle_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta-sketch) set algebra over the SAME
    per-source shingle sets the exact overlap matrix measures: each
    source's distinct hashed {SHINGLE_N}-grams are summarized by their
    {KMV_K} smallest hashes, and every source pair's set UNION and
    INTERSECTION are estimated purely from the two sketches (merge,
    keep the k smallest; |union| ~ (k-1) * domain / kth-min,
    |intersection| from the share of merged minima present in both —
    Beyer et al. 2007, the algebra the DataSketches theta family
    productionizes). Exact counts ride along as the eval yardstick, so
    the driver hash-checks the estimator against its own ground truth
    in one result; the estimates are built from the engine-portable
    md5 hash and are therefore bit-identical across engines — unlike
    HLL, FULLY value-checked, not tolerance-flagged.

    Scale: this is the form the exact matrix ships in at 100 TB —
    per-source sketches are fixed-size and mergeable (a map-side
    top-k, one tiny shuffle of k rows per source), and all C(S,2)
    pair estimates run on O(S) rows of k-element arrays without ever
    re-touching the corpus. The exact columns are the expensive part
    and exist only to grade the estimator."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = th.tokens("text", th.SPARK)
    sh = session_cached(
        spark,
        frame_memo_tag(sf_dir, "kmv_shingle_sets"),
        lambda: _kmv_shingle_rows(docs),
    )
    exact = sh.groupBy("source").agg(F.count("*").alias("n"))
    sk = _kmv_sketches(sh)
    # exact pairwise intersections via the by-hash source-set shape the
    # exact matrix already uses (guide §2.3 — aggregate before you
    # shuffle): ONE shuffle of (shh -> bounded source set) plus a pair
    # explode of <= C(|sources|,2) rows per hash, instead of the
    # previous self-join that shuffled the corpus-scale sh frame TWICE
    # and joined (r14: min 2.0 s / 1278 tasks -> see OPTIMIZATION_r14).
    # sh holds DISTINCT (source, shh) rows, so collect_set == the
    # multiplicity-free source list and the pair counts are identical
    # integers; sort_array + the i+2 slice reproduces a.source <
    # b.source ordering (binary string compare in both engines).
    inter = (
        sh.groupBy("shh")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .where(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (a, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs)), "
                    "b -> struct(a AS src_a, b AS src_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.src_a").alias("src_a"),
            F.col("p.src_b").alias("src_b"),
        )
        .agg(F.count("*").alias("exact_inter"))
    )
    # per-source exact counts ride the pair generation itself (one
    # tiny |sources|-row join into the sketch frame) instead of two
    # broadcast joins whose build sides each re-aggregated sh
    scored = _kmv_pair_scores(sk.join(exact, "source"), extra="n")
    return (
        scored.join(F.broadcast(inter), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.col("n_a").alias("exact_a"),
            F.col("n_b").alias("exact_b"),
            F.coalesce("exact_inter", F.lit(0)).alias("exact_inter"),
            "est_union",
            "est_inter",
        )
        .orderBy("src_a", "src_b")
    )


@query("source_sketch_stream_replay", oracle=_kmv_oracle_sql(False))
def source_sketch_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch maintenance ON THE STREAMING ENGINE: documents
    arrive through a parquet file stream split into multiple
    micro-batches (maxFilesPerTrigger=1 over a 3-file split), each
    batch reduces to per-source batch sketches, and foreachBatch
    merges them into the standing sketch state — k smallest of
    (state UNION batch), the theta-sketch merge. After the drain the
    final state feeds the SAME pairwise estimator as the batch query
    and hash-matches the batch oracle's estimate columns — proving
    the sketch's mergeability contract (k-min of unions == k-min of
    the whole) holds bit-for-bit under arrival-time maintenance,
    regardless of how the corpus splits into batches.

    Scale: this is how the overlap matrix stays current on a live
    corpus — per-batch work is one batch-sized shingle pass plus a
    merge against O(|sources| x k) state rows (the state is
    sketch-sized, never corpus-sized), and the pair estimates read
    only the final state. The batch split is arbitrary BECAUSE the
    sketch is a commutative monoid; the replay demonstrates exactly
    that."""
    import os as _os
    import shutil

    def build() -> str:
        scratch = session_scratch(
            spark, f"kmv_stream_{sf_tag(_os.path.abspath(sf_dir))}"
        )
        # a fresh split, state and checkpoint per build: a regenerated
        # fixture must not resume the previous drain
        shutil.rmtree(scratch, ignore_errors=True)
        splits = _os.path.join(scratch, "splits")
        ckpt = _os.path.join(scratch, "ckpt")
        docs = load_table(spark, sf_dir, "documents")
        # arbitrary 3-way split: the merge result is split-invariant
        docs.repartition(3).write.parquet(splits)
        schema = docs.schema
        final_state = [_os.path.join(scratch, "state_init")]
        _kmv_shingle_rows(spark.createDataFrame([], schema)).write.parquet(
            final_state[0]
        )

        def _merge(batch_df, batch_id):
            prior = spark.read.parquet(final_state[0])
            merged = prior.unionByName(
                _kmv_shingle_rows(batch_df)
            ).distinct()
            rn = F.row_number().over(
                Window.partitionBy("source").orderBy("shh")
            )
            nxt = _os.path.join(scratch, f"state_{batch_id}")
            (
                merged.withColumn("rn", rn)
                .where(F.col("rn") <= KMV_K)
                .select("source", "shh")
                .write.parquet(nxt)
            )
            final_state[0] = nxt

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(splits)
            .writeStream.foreachBatch(_merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return final_state[0]

    state_path = session_memo(
        spark,
        ("source_sketch_stream_replay", *model_memo_key(sf_dir, "documents")),
        build,
    )
    state = spark.read.parquet(state_path)
    return (
        _kmv_pair_scores(_kmv_sketches(state))
        .select("src_a", "src_b", "est_union", "est_inter")
        .orderBy("src_a", "src_b")
    )
