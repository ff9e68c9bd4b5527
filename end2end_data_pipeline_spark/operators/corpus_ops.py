"""Training-corpus preparation operators over the ``documents`` table —
the pipeline stages an LLM data build runs AFTER cleaning/dedup
(text_analysis.py, dedup.py): sequence packing into fixed token
budgets, benchmark-contamination screening, within-document repetition
profiling, source-mix rebalancing, and a shingle novelty curve.

Scale design: every operator is a scan plus at most two key-partitioned
shuffles; the contamination check broadcasts the (small, by
construction) eval-set shingle inventory so the 100 TB train side never
shuffles; packing windows are keyed by (source, shard) so parallelism
is O(sources x shards), not O(sources). All hashing is the portable
md5-based family (functions/texthash.py) so the DuckDB oracle is
value-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from end2end_data_pipeline_spark.functions import texthash as th
from end2end_data_pipeline_spark.registry import ORACLE, query
from end2end_data_pipeline_spark.sources.tables import (
    drained_table,
    fan_out,
    frame_memo_tag,
    input_scaled_partitions,
    load_table,
    model_memo_key,
    session_cached,
    stream_table,
)

# --- sequence packing ------------------------------------------------

PACK_BUDGET = 512  # tokens per packed training sequence
PACK_SHARDS = 2  # window-parallelism shards per source

# --- contamination ---------------------------------------------------

EVAL_MOD = 23  # doc_id % EVAL_MOD == 0 -> held-out "benchmark" doc
CONTAM_N = 4  # word n-gram width for overlap screening
CONTAM_MIN_SHARED = 5  # shared shingles to flag a train doc

# --- repetition ------------------------------------------------------

REPEAT_MAX_FREQ = 8  # max occurrences of any single token before flag


@query(
    "corpus_pack_chunks",
    oracle=f"""
    WITH sized AS (
      SELECT source,
             doc_id % {PACK_SHARDS} AS pack_shard,
             doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT source, pack_shard, n_tokens,
             CAST(FLOOR(
               (SUM(n_tokens) OVER (PARTITION BY source, pack_shard
                                    ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens)
               / {PACK_BUDGET}.0) AS BIGINT) AS chunk_id
      FROM sized
    )
    SELECT source, pack_shard, chunk_id,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens,
           SUM(n_tokens) / {PACK_BUDGET}.0 AS fill_ratio
    FROM packed
    GROUP BY source, pack_shard, chunk_id
    ORDER BY source, pack_shard, chunk_id
    """,
)
def corpus_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: documents are laid out in
    deterministic (source, shard, doc_id) order and cut into chunks at
    every {PACK_BUDGET}-token boundary of the running total (the
    concat-then-chunk layout LLM pretraining uses; each chunk is one
    training sequence). chunk_id derives from the PRE-doc cumulative
    sum, so a document starts the chunk its first token lands in.

    Scale: the only shuffle is the (source, pack_shard) window; shards
    keep window parallelism O(sources x shards) and bound per-task
    state to one shard's documents, so a hot source cannot serialize
    the stage. Raise PACK_SHARDS with corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = th.tokens("text", th.SPARK)
    sized = docs.select(
        "source",
        (F.col("doc_id") % PACK_SHARDS).alias("pack_shard"),
        "doc_id",
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "pack_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "chunk_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET).cast(
            "bigint"
        ),
    )
    return (
        packed.groupBy("source", "pack_shard", "chunk_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("chunk_tokens"),
            (F.sum("n_tokens") / F.lit(float(PACK_BUDGET))).alias("fill_ratio"),
        )
        .orderBy("source", "pack_shard", "chunk_id")
    )


def _contam_shingles_sql(dialect: str, side_filter: str) -> str:
    """doc_id + distinct hashed n-gram shingle array for one side."""
    toks = th.tokens("text", dialect)
    return f"""
        SELECT doc_id, {th.shingle_combine('th_arr', CONTAM_N, dialect)} AS shh
        FROM (
          SELECT doc_id, {th.reduced_token_hashes(toks, dialect)} AS th_arr
          FROM documents
          WHERE {side_filter} AND len({toks}) >= {CONTAM_N}
        )"""


def _all_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, shh) positional-shingle inventory over
    the WHOLE corpus — the one md5 tokenize/hash pass behind
    eval_contamination (train side = doc_id % EVAL_MOD != 0 filter,
    eval side = == 0), the curation funnel's contamination stage, and
    shingle_novelty_curve (no filter). Before r14 these were THREE
    separately-cached corpus passes computing the identical shingle
    expression (contam_train/contam_eval/novelty tags); the filters
    are row-level, so one materialization serves all three.
    Materialization (not just memoization) is load-bearing: a
    Generate over the raw shingle expression re-inlines the whole
    token-hash pass into every element_at reference (~8x the md5
    work, measured r10)."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = th.tokens("text", th.SPARK)
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "corpus_shingles"),
        lambda: docs.where(F.expr(f"size({toks}) >= {CONTAM_N}"))
        .select(
            "doc_id", F.expr(th.reduced_token_hashes(toks, th.SPARK)).alias("th_arr")
        )
        .select(
            "doc_id",
            F.expr(th.shingle_combine("th_arr", CONTAM_N, th.SPARK)).alias("shh"),
        )
        .coalesce(input_scaled_partitions(sf_dir, "documents")),
    )


@query(
    "eval_contamination",
    oracle=f"""
    WITH train AS ({_contam_shingles_sql(th.DUCK, f'doc_id % {EVAL_MOD} != 0')}),
    eval_sh AS (
      SELECT DISTINCT unnest(shh) AS sh
      FROM ({_contam_shingles_sql(th.DUCK, f'doc_id % {EVAL_MOD} = 0')})
    ),
    train_sh AS (
      SELECT doc_id, unnest(shh) AS sh FROM train
    ),
    hits AS (
      SELECT t.doc_id, count(*) AS n_shared
      FROM train_sh t JOIN eval_sh e ON t.sh = e.sh
      GROUP BY t.doc_id
    )
    SELECT train.doc_id,
           CAST(len(shh) AS BIGINT) AS n_shingles,
           CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(n_shared, 0) / CAST(len(shh) AS DOUBLE) AS contamination,
           CAST(CASE WHEN COALESCE(n_shared, 0) >= {CONTAM_MIN_SHARED}
                THEN 1 ELSE 0 END AS INT) AS contaminated
    FROM train LEFT JOIN hits ON train.doc_id = hits.doc_id
    ORDER BY train.doc_id
    """,
)
def eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: share of each training
    document's distinct word {CONTAM_N}-gram shingles that also appear
    anywhere in the held-out eval split (doc_id % {EVAL_MOD} == 0 — a
    stand-in for a benchmark suite). Decontamination then drops or
    rewrites flagged docs before training.

    Scale: the eval shingle inventory is DISTINCT-reduced and
    broadcast (eval suites are tiny vs a 100 TB train corpus), so the
    train side is a scan + explode + broadcast-hash semi-probe + one
    doc_id-partitioned count — the train corpus never shuffles its
    text, only (doc_id, matched) pairs."""
    return _contam_perdoc(spark, sf_dir).orderBy("doc_id")


def _contam_perdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-train-doc contamination frame, session-cached (r14): three
    consumers (the registered query's sorted output, the curation
    funnel's doc_id join, the stream replay's static side) each
    re-ran the explode + broadcast-probe + count pipeline per
    execution; the output is five narrow columns per train doc, so
    the flag frame is cached and the pipeline runs once per session.
    Both shingle sides are row-filters on the ONE cached corpus
    inventory (_all_shingles)."""
    sh = _all_shingles(spark, sf_dir)
    train = sh.where(F.col("doc_id") % EVAL_MOD != 0)
    eval_sh = (
        sh.where(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode("shh").alias("sh"))
        .distinct()
    )
    train_sh = train.select("doc_id", F.explode("shh").alias("sh"))
    hits = (
        train_sh.join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_raw"))
    )
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "contam_perdoc"),
        lambda: train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("shh").cast("bigint").alias("n_shingles"),
            F.coalesce(F.col("n_shared_raw"), F.lit(0)).cast("bigint").alias("n_shared"),
            (
                F.coalesce(F.col("n_shared_raw"), F.lit(0))
                / F.size("shh").cast("double")
            ).alias("contamination"),
            F.when(
                F.coalesce(F.col("n_shared_raw"), F.lit(0)) >= CONTAM_MIN_SHARED, 1
            )
            .otherwise(0)
            .cast("int")
            .alias("contaminated"),
        )
        .coalesce(input_scaled_partitions(sf_dir, "documents")),
    )


@query(
    "doc_repetition_profile",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), freq AS (
      SELECT doc_id, tok, count(*) AS c
      FROM tok GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           count(*) AS n_distinct,
           count(*) / CAST(SUM(c) AS DOUBLE) AS distinct_ratio,
           CAST(max(c) AS BIGINT) AS max_token_freq,
           CAST(CASE WHEN max(c) > {REPEAT_MAX_FREQ} THEN 1 ELSE 0 END AS INT)
               AS repetitive
    FROM freq
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition profile: distinct-token ratio and the
    hottest token's frequency — the signal used to drop degenerate
    generated/boilerplate text (low distinct ratio = the document
    repeats itself). Flag when any token occurs > {REPEAT_MAX_FREQ}
    times.

    Scale: explode + two-level aggregate, both partially aggregated
    map-side; the shuffle key is (doc_id, token) then doc_id, so data
    volume drops at each step and no single key can be hot (a document
    is one group)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = th.tokens("text", th.SPARK)
    freq = (
        docs.select("doc_id", F.explode(F.expr(toks)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        freq.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            (F.count("*") / F.sum("c").cast("double")).alias("distinct_ratio"),
            F.max("c").alias("max_token_freq"),
            F.when(F.max("c") > REPEAT_MAX_FREQ, 1).otherwise(0).cast("int").alias(
                "repetitive"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "source_mix_rebalance",
    oracle="""
    WITH per_source AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), totals AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             count(*) AS n_sources
      FROM per_source
    )
    SELECT source, n_docs, n_tokens,
           n_tokens / CAST(total_tokens AS DOUBLE) AS token_share,
           (total_tokens / CAST(n_sources AS DOUBLE))
               / n_tokens AS rebalance_weight
    FROM per_source, totals
    ORDER BY source
    """,
)
def source_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing: each source's token share and the
    sampling weight that equalizes shares (weight > 1 = upsample,
    < 1 = downsample) — how a pretraining mix is retargeted to a
    uniform domain distribution.

    Scale: one O(sources) aggregate; the totals side is a 1-row
    broadcast cross join, so nothing large moves."""
    docs = load_table(spark, sf_dir, "documents")
    toks = th.tokens("text", th.SPARK)
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.expr(f"size({toks})")).cast("bigint").alias("n_tokens"),
    )
    totals = per_source.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens") / F.col("total_tokens").cast("double")).alias(
                "token_share"
            ),
            (
                (F.col("total_tokens") / F.col("n_sources").cast("double"))
                / F.col("n_tokens")
            ).alias("rebalance_weight"),
        )
        .orderBy("source")
    )


@query(
    "shingle_novelty_curve",
    oracle=f"""
    WITH sh AS ({_contam_shingles_sql(th.DUCK, 'TRUE')}),
    exploded AS (
      SELECT doc_id, unnest(shh) AS s FROM sh
    ), firsts AS (
      SELECT s, min(doc_id) AS first_doc FROM exploded GROUP BY s
    ), introduced AS (
      SELECT first_doc AS doc_id, count(*) AS n_new
      FROM firsts GROUP BY first_doc
    )
    SELECT sh.doc_id,
           CAST(len(shh) AS BIGINT) AS n_shingles,
           CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new_shingles,
           COALESCE(n_new, 0) / CAST(len(shh) AS DOUBLE) AS novelty
    FROM sh LEFT JOIN introduced ON sh.doc_id = introduced.doc_id
    ORDER BY sh.doc_id
    """,
)
def shingle_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document (in doc_id ingestion order),
    how many of its distinct word {CONTAM_N}-gram shingles had never
    appeared in any earlier document — the diminishing-returns signal
    data teams use to decide when more of a source stops adding
    information.

    Scale: explode + min-aggregate keyed by shingle hash (uniform
    8-byte keys, partial agg map-side), then an O(docs) count and a
    doc_id-keyed left join — never all-pairs, no per-doc state."""
    # the full-corpus shingle inventory shared with eval_contamination
    # and the curation funnel — one cached md5 pass per session (r14);
    # consumed twice here (explode + final join)
    sh = _all_shingles(spark, sf_dir)
    exploded = sh.select("doc_id", F.explode("shh").alias("s"))
    firsts = exploded.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    introduced = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").alias("n_new")
    )
    return (
        sh.join(introduced, "doc_id", "left")
        .select(
            "doc_id",
            F.size("shh").cast("bigint").alias("n_shingles"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint").alias("n_new_shingles"),
            (
                F.coalesce(F.col("n_new"), F.lit(0)) / F.size("shh").cast("double")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# --- overlapping chunking -------------------------------------------

CHUNK_W = 32  # tokens per chunk
CHUNK_S = 24  # stride between chunk starts (25% overlap)

# portable hash of the chunk's token window, DuckDB side (1-based
# inclusive slice, mirroring Spark's slice(t, start, W))
_CHUNK_HASH_DUCK = th.md5h(
    f"array_to_string(t[start:start + {CHUNK_W} - 1], ' ')", th.DUCK
)


@query(
    "docs_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), chunks AS (
      SELECT doc_id,
             unnest(range(1, len(t) + 1, {CHUNK_S})) AS start,
             t
      FROM toks
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_S} AS INT) AS chunk_idx,
           CAST(least({CHUNK_W}, len(t) - start + 1) AS INT) AS chunk_len,
           {_CHUNK_HASH_DUCK} AS chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap — the context-window
    chunker an embedding/RAG pipeline runs (W={CHUNK_W} tokens, stride
    {CHUNK_S}, so consecutive chunks share W-S tokens and no token is
    orphaned at a hard boundary). Emits (doc_id, chunk_idx, chunk_len,
    portable chunk hash) rather than the chunk text itself — the hash
    proves content equality to the oracle without shipping strings.

    Scale: pure per-row array math (sequence + slice + md5, all
    codegen'd builtins) followed by explode — embarrassingly parallel,
    no shuffle at all except the presentation sort; expansion factor is
    ~n_tokens/stride, planner-visible."""
    docs = load_table(spark, sf_dir, "documents")
    toks = fan_out(spark, docs).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    chunk_txt = f"concat_ws(' ', slice(t, start, {CHUNK_W}))"
    return (
        toks.select(
            "doc_id",
            "t",
            F.explode(
                F.expr(f"sequence(1, size(t), {CHUNK_S})")
            ).alias("start"),
        )
        .select(
            "doc_id",
            (((F.col("start") - 1) / CHUNK_S).cast("int")).alias("chunk_idx"),
            F.least(
                F.lit(CHUNK_W), F.expr("size(t) - start + 1")
            ).cast("int").alias("chunk_len"),
            F.expr(th.md5h(chunk_txt, th.SPARK)).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# --- quantile normalization across languages ---------------------------

_QN_ORACLE = """
    WITH hl AS (
      SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ), hl_cum AS (
      SELECT lang, v, n,
             CAST(SUM(n) OVER (PARTITION BY lang ORDER BY v) AS BIGINT)
               AS cum_l,
             CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS n_l
      FROM hl
    ), hg AS (
      -- the global histogram folds out of the per-lang one: a second
      -- corpus scan would read the same two columns again
      SELECT v, CAST(SUM(n) AS BIGINT) AS n FROM hl GROUP BY 1
    ), hg_cum AS (
      SELECT v, n,
             CAST(SUM(n) OVER (ORDER BY v) AS BIGINT) AS cum_g,
             CAST(SUM(n) OVER () AS BIGINT) AS n_g
      FROM hg
    ), mapped AS (
      SELECT l.lang, l.v AS raw_value, l.n AS n_docs,
             g.v AS norm_value
      FROM hl_cum l JOIN hg_cum g
        ON ((l.cum_l * g.n_g + l.n_l - 1) // l.n_l) <= g.cum_g
       AND ((l.cum_l * g.n_g + l.n_l - 1) // l.n_l) > g.cum_g - g.n
    )
    SELECT lang, CAST(raw_value AS BIGINT) AS raw_value,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(norm_value AS BIGINT) AS norm_value
    FROM mapped ORDER BY lang, raw_value
    """


@query("docs_quantile_norm_by_lang", oracle=_QN_ORACLE)
def docs_quantile_norm_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across languages —
    the cross-population calibration step (classic in expression
    arrays, equally at home normalizing per-language quality/length
    scores before a global corpus threshold): each (lang, n_chars)
    value maps to the GLOBAL n_chars value at the same quantile
    (nearest-rank, upper tie: idx = ceil(cum_l·N/n_l)), so every
    language's normalized distribution is the pooled one and a single
    global cutoff stops being biased against verbose/terse languages.

    Scale: the naive formulation global-sorts every row (single
    partition — the classic QN bottleneck). Here BOTH CDFs collapse to
    VALUE-DOMAIN histograms first (one map-side-combined rollup each;
    n_chars has a bounded domain), the inverse-CDF lookup is a band
    join between two bounded histograms (idx lands in exactly one
    global (cum-n, cum] slab), and no per-document row ever shuffles.
    Output is O(langs x distinct values) — calendar-class, not
    data-class."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").alias("v")
    )
    # session_cached: both CDFs fold out of this one histogram (a
    # second reference would re-scan the corpus); O(langs x values)
    hl = session_cached(
        spark,
        frame_memo_tag(sf_dir, "qnorm_hl"),
        lambda: docs.groupBy("lang", "v")
        .agg(F.count("*").cast("bigint").alias("n"))
        .coalesce(1),
    )
    wl = Window.partitionBy("lang").orderBy("v")
    hl_cum = hl.select(
        "lang",
        "v",
        "n",
        F.sum("n").over(wl).cast("bigint").alias("cum_l"),
        F.sum("n").over(Window.partitionBy("lang")).cast("bigint").alias("n_l"),
    )
    hg = hl.groupBy("v").agg(F.sum("n").cast("bigint").alias("n"))
    wg = Window.orderBy("v")
    hg_cum = hg.select(
        F.col("v").alias("gv"),
        F.col("n").alias("gn"),
        F.sum("n").over(wg).cast("bigint").alias("cum_g"),
        F.sum("n").over(Window.partitionBy()).cast("bigint").alias("n_g"),
    )
    idx = F.expr("(cum_l * n_g + n_l - 1) div n_l")
    return (
        hl_cum.join(
            F.broadcast(hg_cum),
            (idx <= F.col("cum_g")) & (idx > F.col("cum_g") - F.col("gn")),
        )
        .select(
            "lang",
            F.col("v").cast("bigint").alias("raw_value"),
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("gv").cast("bigint").alias("norm_value"),
        )
        .orderBy("lang", "raw_value")
    )


# --- hashed-n-gram domain affinity (DSIR-style selection) -----------

DSIR_B = 4096  # feature-hash buckets
DSIR_N = 2  # word n-gram width of the hashed features
DSIR_TARGET_LANG = "en"  # the "target domain" the selector aims at
# Selection cutoff on the affinity ratio. Laplace smoothing and the
# frequency-weighted bucket draw bias every document's ratio below 1
# (corpus-wide mean ~0.85), so the keep-set is defined by a calibrated
# threshold, not by ratio > 1 — at 0.87 the fixture target language
# selects at ~0.83 vs <=0.11 for every other language (measured at
# sf0.001; same device as NEARDUP_COSINE's fixture-calibrated value —
# the plan shape is threshold-independent). Production DSIR picks the
# cutoff as a weight quantile on a sample instead of a literal.
DSIR_TAU = 0.87


def _dsir_base_sql() -> str:
    toks = th.tokens("text", th.DUCK)
    th_arr = th.reduced_token_hashes("t", th.DUCK)
    ph = th.shingle_hashes_pos("th_arr", DSIR_N, th.DUCK)
    return f"""
      SELECT doc_id, lang, {ph} AS ph
      FROM (SELECT doc_id, lang, {th_arr} AS th_arr
            FROM (SELECT doc_id, lang, {toks} AS t FROM documents))
    """


@query(
    "docs_dsir_domain_affinity",
    oracle=f"""
    WITH base AS ({_dsir_base_sql()}),
    occ AS (
      SELECT doc_id, lang,
             unnest(list_transform(ph, h -> h % {DSIR_B})) AS b
      FROM base
    ), rcounts AS (
      SELECT b, CAST(count(*) AS BIGINT) AS r FROM occ GROUP BY b
    ), tcounts AS (
      SELECT b, CAST(count(*) AS BIGINT) AS t FROM occ
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
    ), totals AS (
      SELECT CAST(COALESCE((SELECT SUM(r) FROM rcounts), 0) AS BIGINT)
                 AS raw_total,
             CAST(COALESCE((SELECT SUM(t) FROM tcounts), 0) AS BIGINT)
                 AS target_total
    ), perdoc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             CAST(SUM(COALESCE(t, 0)) AS BIGINT) AS target_hits,
             CAST(SUM(r) AS BIGINT) AS raw_hits
      FROM occ
      JOIN rcounts USING (b)
      LEFT JOIN tcounts USING (b)
      GROUP BY doc_id
    )
    SELECT base.doc_id, base.lang,
           CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
           CAST(COALESCE(p.target_hits, 0) AS BIGINT) AS target_hits,
           CAST(COALESCE(p.raw_hits, 0) AS BIGINT) AS raw_hits,
           CASE WHEN COALESCE(p.n_feats, 0) = 0 THEN NULL
                ELSE (CAST(p.target_hits + p.n_feats AS DOUBLE)
                      * CAST(tt.raw_total + {DSIR_B} AS DOUBLE))
                   / (CAST(p.raw_hits + p.n_feats AS DOUBLE)
                      * CAST(tt.target_total + {DSIR_B} AS DOUBLE))
           END AS affinity,
           CAST(CASE WHEN COALESCE(p.n_feats, 0) > 0
                      AND (CAST(p.target_hits + p.n_feats AS DOUBLE)
                           * CAST(tt.raw_total + {DSIR_B} AS DOUBLE))
                        / (CAST(p.raw_hits + p.n_feats AS DOUBLE)
                           * CAST(tt.target_total + {DSIR_B} AS DOUBLE))
                          >= {DSIR_TAU}
                     THEN 1 ELSE 0 END AS BIGINT) AS selected
    FROM base
    LEFT JOIN perdoc p USING (doc_id)
    CROSS JOIN totals tt
    ORDER BY base.doc_id
    """,
)
def docs_dsir_domain_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, arithmetic-mean
    variant (Xie et al. 2023): hash every word {DSIR_N}-gram into
    {DSIR_B} buckets, model the target domain (lang =
    '{DSIR_TARGET_LANG}') and the raw corpus as Laplace-smoothed
    bucket-frequency tables, and score each document by the ratio of
    its expected target-bucket mass to its expected raw-bucket mass.
    ``selected`` marks documents whose affinity clears the calibrated
    {DSIR_TAU} cutoff — the resampling keep-set (see DSIR_TAU's note
    on why the cutoff sits below 1).
    The published estimator sums per-feature log-ratios; this variant
    compares the per-document arithmetic means of the same smoothed
    frequencies, because ln() is not bit-stable across engines while
    exact-integer sums and one fixed-shape double expression are
    (same house rule as bigram_surprise_profile's log-free surprise).

    Reference scope: the reference has no data-selection stage at all
    (SURVEY.md §0) — this is LLM-pipeline surface the brief demands.

    Scale: both frequency tables are bounded by {DSIR_B} buckets —
    broadcast joins, so the exploded feature stream shuffles ONLY for
    the per-doc aggregate (doc_id-keyed, map-side combined). The
    affinity is one fixed-shape double expression over exact BIGINT
    inputs (deterministic IEEE at any corpus size — no overflow
    ceiling). No all-pairs anywhere; the scalar totals row is a 1-row
    broadcast, same device as source_mix_rebalance."""
    return _dsir_perdoc(spark, sf_dir).orderBy("doc_id")


def _dsir_perdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR frame, session-cached (r14): shared by the
    registered query (adds the output sort), the curation funnel and
    the stream replay (doc_id joins) — each re-ran the explode +
    census + re-join pipeline per execution; the output is seven
    narrow columns per doc, cached once per session."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = th.tokens("text", th.SPARK)
    base = session_cached(
        spark,
        frame_memo_tag(sf_dir, "dsir_base"),
        lambda: docs.select(
            "doc_id",
            "lang",
            F.expr(th.reduced_token_hashes(toks, th.SPARK)).alias("th_arr"),
        ).select(
            "doc_id",
            "lang",
            F.expr(th.shingle_hashes_pos("th_arr", DSIR_N, th.SPARK)).alias(
                "ph"
            ),
        ),
        # cached: consumed by the feature explode AND the final join
    )
    occ = base.select(
        "doc_id", "lang", F.explode("ph").alias("h")
    ).select("doc_id", "lang", (F.col("h") % DSIR_B).alias("b"))
    # ONE bucket census instead of two (raw + target were separate
    # aggregates over the same exploded frame, r13: one less explode
    # pass and one less broadcast join; t is 0 where the left join
    # used to produce NULL, and every consumer already coalesced).
    bcounts = occ.groupBy("b").agg(
        F.count("*").cast("bigint").alias("r"),
        F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("int"))
        .cast("bigint")
        .alias("t"),
    )
    totals = bcounts.agg(
        F.coalesce(F.sum("r"), F.lit(0)).cast("bigint").alias("raw_total"),
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("target_total"),
    )
    perdoc = (
        occ.join(F.broadcast(bcounts), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.sum(F.coalesce(F.col("t"), F.lit(0)))
            .cast("bigint")
            .alias("target_hits"),
            F.sum("r").cast("bigint").alias("raw_hits"),
        )
    )
    nf = F.coalesce(F.col("n_feats"), F.lit(0))
    num = (F.col("target_hits") + F.col("n_feats")).cast("double") * (
        F.col("raw_total") + F.lit(DSIR_B)
    ).cast("double")
    den = (F.col("raw_hits") + F.col("n_feats")).cast("double") * (
        F.col("target_total") + F.lit(DSIR_B)
    ).cast("double")
    sel = (num / den) >= F.lit(DSIR_TAU)
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "dsir_perdoc"),
        lambda: base.join(perdoc, "doc_id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "lang",
            nf.cast("bigint").alias("n_feats"),
            F.coalesce(F.col("target_hits"), F.lit(0))
            .cast("bigint")
            .alias("target_hits"),
            F.coalesce(F.col("raw_hits"), F.lit(0))
            .cast("bigint")
            .alias("raw_hits"),
            F.when(nf == 0, F.lit(None).cast("double"))
            .otherwise(num / den)
            .alias("affinity"),
            F.when((nf > 0) & sel, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("selected"),
        )
        .coalesce(input_scaled_partitions(sf_dir, "documents")),
    )


# --- end-to-end curation funnel -------------------------------------


def _curation_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached per-document curation base: (doc_id, source,
    lang, n_chars, h=md5(text), q=quality_ok, lang_ok, tr) — eight
    narrow columns, one documents scan. Shared by
    corpus_curation_funnel (scored rows AND the quality-survivor
    aggregate, i.e. both join sides), training_corpus_filter (its
    scored rows and its all-docs survivor aggregate) and
    curation_stream_replay's static survivor side — before r14 each
    consumer re-scanned documents and recomputed md5 + the quality /
    lang-ID expression trees per reference (the funnel alone paid the
    scan twice per execution: once under the flags projection, once
    under the survivor aggregate)."""
    from end2end_data_pipeline_spark.operators.text_analysis import (
        _langid_exprs,
        _quality_exprs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "curation_scored"),
        lambda: docs.select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.md5("text").alias("h"),
            F.expr(_quality_exprs(th.SPARK)["quality_ok"]).alias("q"),
            F.when(
                F.expr(_langid_exprs(th.SPARK)[1]) == F.col("lang"), 1
            )
            .otherwise(0)
            .alias("lang_ok"),
            F.when(F.col("doc_id") % EVAL_MOD != 0, 1).otherwise(0).alias("tr"),
        ).coalesce(input_scaled_partitions(sf_dir, "documents")),
    )


def _funnel_rollup(flags: DataFrame) -> DataFrame:
    """Per-source cumulative keep waterfall over a (source, n_chars,
    q, u, tr, cl, sel) flag frame — ONE rollup shared by the batch
    funnel and its streaming twin, so the stage order cannot drift
    between them."""
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("q").cast("bigint").alias("n_quality"),
            F.sum(F.col("q") * F.col("u")).cast("bigint").alias("n_unique"),
            F.sum(F.col("q") * F.col("u") * F.col("tr"))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.col("q") * F.col("u") * F.col("tr") * F.col("cl"))
            .cast("bigint")
            .alias("n_clean"),
            F.sum(
                F.col("q") * F.col("u") * F.col("tr") * F.col("cl") * F.col("sel")
            )
            .cast("bigint")
            .alias("n_selected"),
            F.sum(
                F.col("q")
                * F.col("u")
                * F.col("tr")
                * F.col("cl")
                * F.col("sel")
                * F.col("n_chars")
            )
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


def _funnel_sql() -> str:
    from end2end_data_pipeline_spark.operators.text_analysis import (
        _quality_exprs,
    )

    q_ok = _quality_exprs(th.DUCK)["quality_ok"]
    return f"""
    WITH fun_scored AS (
      SELECT doc_id, source, n_chars, md5(text) AS h,
             {q_ok} AS quality_ok,
             CASE WHEN doc_id % {EVAL_MOD} != 0 THEN 1 ELSE 0 END AS train_ok
      FROM documents
    ), fun_surv AS (
      SELECT h, MIN(doc_id) AS keep_id
      FROM fun_scored WHERE quality_ok = 1 GROUP BY h
    ), fun_contam AS (
      SELECT doc_id, contaminated
      FROM ({ORACLE["eval_contamination"]})
    ), fun_sel AS (
      SELECT doc_id, selected
      FROM ({ORACLE["docs_dsir_domain_affinity"]})
    ), fun_flags AS (
      SELECT s.source, s.n_chars,
             s.quality_ok AS q,
             CASE WHEN v.keep_id = s.doc_id THEN 1 ELSE 0 END AS u,
             s.train_ok AS tr,
             CASE WHEN COALESCE(c.contaminated, 0) = 1 THEN 0 ELSE 1 END
                 AS cl,
             CAST(COALESCE(d.selected, 0) AS INT) AS sel
      FROM fun_scored s
      LEFT JOIN fun_surv v ON s.h = v.h
      LEFT JOIN fun_contam c ON s.doc_id = c.doc_id
      LEFT JOIN fun_sel d ON s.doc_id = d.doc_id
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(q) AS BIGINT) AS n_quality,
           CAST(SUM(q * u) AS BIGINT) AS n_unique,
           CAST(SUM(q * u * tr) AS BIGINT) AS n_train,
           CAST(SUM(q * u * tr * cl) AS BIGINT) AS n_clean,
           CAST(SUM(q * u * tr * cl * sel) AS BIGINT) AS n_selected,
           CAST(SUM(q * u * tr * cl * sel * n_chars) AS BIGINT)
               AS kept_chars
    FROM fun_flags GROUP BY source ORDER BY source
    """


@query("corpus_curation_funnel", oracle=_funnel_sql())
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data curation pipeline as ONE Spark plan —
    per source, the cumulative keep counts through five stages:
    quality gate -> exact-dedup survivorship -> train-split membership
    (doc_id % {EVAL_MOD} != 0) -> benchmark decontamination (shared
    eval shingles < {CONTAM_MIN_SHARED}) -> DSIR domain selection
    (affinity >= {DSIR_TAU}) — plus the characters the final corpus
    keeps. This is the drop-reason waterfall a data team reads before
    every pretraining run, and the integration proof that the dedup,
    contamination, and selection tiers compose in one lazy plan
    (extends training_corpus_filter, which chains quality/lang-ID/
    dedup only).

    Survivorship convention (r10 advice): dedup runs AMONG QUALITY
    SURVIVORS — keep_id is the min doc_id of each content group's
    quality-PASSING copies, so a duplicate group whose lowest-id copy
    fails quality still keeps its best-ranked passing copy (the
    all-docs convention silently vanished such content from n_unique
    onward). Groups with no passing copy contribute nothing past
    n_quality, as every stage multiplier already implies.

    Scale: the per-row stages (quality, split hash) ride the scan;
    survivorship is the md5-keyed partial aggregate; the
    contamination and DSIR flag frames come from their cached
    builders and join back by doc_id — document text is never moved
    more than the component operators already move it, and the final
    rollup is O(|sources|)."""
    # both join sides come from the ONE cached per-doc scored frame
    # (r14): the scan + md5 + quality expressions run once per session
    # instead of twice per execution
    base = _curation_scored(spark, sf_dir)
    scored = base.select("doc_id", "source", "n_chars", "h", "q", "tr")
    surv = (
        base.where(F.col("q") == 1)
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    contam = _contam_perdoc(spark, sf_dir).select("doc_id", "contaminated")
    dsel = _dsir_perdoc(spark, sf_dir).select("doc_id", "selected")
    flags = (
        scored.join(surv, "h", "left")
        .join(contam, "doc_id", "left")
        .join(dsel, "doc_id", "left")
        .select(
            "source",
            "n_chars",
            "q",
            F.when(F.col("keep_id") == F.col("doc_id"), 1)
            .otherwise(0)
            .alias("u"),
            "tr",
            F.when(F.coalesce(F.col("contaminated"), F.lit(0)) == 1, 0)
            .otherwise(1)
            .alias("cl"),
            F.coalesce(F.col("selected"), F.lit(0)).cast("int").alias("sel"),
        )
    )
    return _funnel_rollup(flags)


# --- padding-waste sweep over candidate sequence lengths ------------

PACK_SWEEP_LENS = (64, 128, 256, 512)


@query(
    "corpus_packing_efficiency_sweep",
    oracle=f"""
    WITH sized AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), lens AS (
      SELECT unnest([{', '.join(str(l) for l in PACK_SWEEP_LENS)}])
          AS max_len
    ), celled AS (
      SELECT max_len, n_tokens,
             ((n_tokens + max_len - 1) // max_len) * max_len AS padded
      FROM sized CROSS JOIN lens
    )
    SELECT CAST(max_len AS BIGINT) AS max_len,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens,
           CAST(SUM(padded) AS BIGINT) AS padded_tokens,
           CAST(SUM(padded - n_tokens) AS BIGINT) AS wasted_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / CAST(SUM(padded) AS DOUBLE)
               AS efficiency
    FROM celled GROUP BY max_len ORDER BY max_len
    """,
)
def corpus_packing_efficiency_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Padding-waste sweep for the document-per-sequence layout: for
    each candidate max sequence length, the tokens a batch pays when
    every document is padded up to its own ceil(len/L)*L cells —
    against which the concat-and-chunk layout (corpus_pack_chunks,
    ~100% fill by construction) is judged. efficiency = corpus tokens
    / padded tokens; the L that maximizes it for THIS corpus's length
    distribution is the training-config answer this sweep exists for.

    Scale: one token-count scan, a CROSS JOIN against a
    {len(PACK_SWEEP_LENS)}-row literal length table (broadcast,
    bounded fan-out), exact-integer ceil division per row, and an
    O(|lens|) rollup — no window, no data-sized shuffle; the padded
    sums stay exact BIGINTs so efficiency is a single portable
    division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = th.tokens("text", th.SPARK)
    sized = docs.select(
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tokens")
    )
    lens = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(int(l)) for l in PACK_SWEEP_LENS])
        ).alias("max_len")
    )
    celled = sized.crossJoin(F.broadcast(lens)).select(
        "max_len",
        "n_tokens",
        # exact integer ceil division, same form as the oracle's //
        F.expr(
            "((n_tokens + max_len - 1) div max_len) * max_len"
        ).alias("padded"),
    )
    return (
        celled.groupBy(F.col("max_len").cast("bigint").alias("max_len"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("corpus_tokens"),
            F.sum("padded").cast("bigint").alias("padded_tokens"),
            F.sum(F.col("padded") - F.col("n_tokens"))
            .cast("bigint")
            .alias("wasted_tokens"),
            (
                F.sum("n_tokens").cast("double")
                / F.sum("padded").cast("double")
            ).alias("efficiency"),
        )
        .orderBy("max_len")
    )


# --- temperature-sampled source mixture -----------------------------

# alpha = 0.5 (weight ~ share^alpha) — the multilingual-pretraining
# temperature that upsamples small sources (Conneau & Lample 2019
# style). 0.5 specifically because share^0.5 = sqrt(share) and IEEE
# sqrt is correctly rounded in every engine, while pow(x, a) for
# general a is not bit-stable cross-engine.


@query(
    "source_temperature_mix",
    oracle="""
    WITH per_source AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS total,
             CASE WHEN count(*) = 0 THEN 0.0
                  ELSE CAST(list_reduce(
                         list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))),
                         (a, b) -> a + b) AS DOUBLE)
             END AS z
      FROM per_source
    )
    SELECT source, n_tokens,
           n_tokens / CAST(total AS DOUBLE) AS token_share,
           sqrt(CAST(n_tokens AS DOUBLE)) / z AS temp_weight,
           (sqrt(CAST(n_tokens AS DOUBLE)) / z)
             / (n_tokens / CAST(total AS DOUBLE)) AS upsample_factor
    FROM per_source CROSS JOIN tot
    ORDER BY source
    """,
)
def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixture (weight ~ token_share^0.5):
    the standard multilingual/multi-domain pretraining reweighting
    that upsamples small sources without letting them dominate —
    the dial between proportional sampling (source_mix_rebalance's
    share column) and uniform (its rebalance_weight). alpha is fixed
    at 0.5 because sqrt is the one power IEEE guarantees correctly
    rounded in both engines.

    Portability: the normalizer sums per-source sqrt values through
    an EXPLICIT sorted left-fold (Spark aggregate over array_sort,
    DuckDB list_reduce over list_sort) — float addition is
    order-sensitive, so the fold order is pinned instead of left to
    the aggregate planner; 0.0 + x = x exactly, so the differing
    fold seeds cannot diverge.

    Scale: O(sources) aggregate; the fold materializes one
    |sources|-length array on a single row — sources are a catalog
    (hundreds), not data. The totals row is the waived 1-row
    broadcast cross join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = th.tokens("text", th.SPARK)
    per_source = docs.groupBy("source").agg(
        F.sum(F.expr(f"size({toks})")).cast("bigint").alias("n_tokens")
    )
    sq = F.sqrt(F.col("n_tokens").cast("double"))
    tot = per_source.select(
        "n_tokens", sq.alias("sq")
    ).agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint").alias("total"),
        F.coalesce(
            F.expr(
                "aggregate(array_sort(collect_list(sq)), "
                "CAST(0 AS DOUBLE), (a, x) -> a + x)"
            ),
            F.lit(0.0),
        ).alias("z"),
    )
    share = F.col("n_tokens") / F.col("total").cast("double")
    weight = sq / F.col("z")
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            share.alias("token_share"),
            weight.alias("temp_weight"),
            (weight / share).alias("upsample_factor"),
        )
        .orderBy("source")
    )


# --- streaming curation replay --------------------------------------

@query("curation_stream_replay", oracle=ORACLE["corpus_curation_funnel"])
def curation_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel ON THE STREAMING ENGINE: documents arrive
    through a parquet file stream (availableNow drain, append-mode
    memory sink) and every per-document decision is made per
    micro-batch — quality gate and split membership as per-row
    expressions ON the stream, survivorship / contamination / DSIR
    selection as stream-static equi-joins against the corpus index
    frames (exactly how incremental curation scores new arrivals
    against yesterday's corpus state — the incr_dedup fingerprint-
    store shape). The drained flag table then rolls up with the
    identical per-source funnel aggregation and hash-matches the
    batch funnel's oracle — proving arrival-time curation reproduces
    the batch decision bit-for-bit.

    Scale: the stream side is stateless (no watermark, no state
    store) — each micro-batch pays per-row expressions plus three
    hash joins against index frames that are themselves the batch
    operators' outputs; the rollup runs on the drained sink. At 100
    TB the index frames are the persisted curation index, not a
    recomputation."""
    from end2end_data_pipeline_spark.operators.text_analysis import (
        _quality_exprs,
    )

    def build() -> DataFrame:
        # corpus index frames — the STATIC side of the stream-static
        # joins (deterministic batch frames; session-cached builders).
        # Survivorship among QUALITY SURVIVORS, same convention as the
        # batch funnel (see corpus_curation_funnel docstring).
        surv = (
            _curation_scored(spark, sf_dir)
            .where(F.col("q") == 1)
            .groupBy("h")
            .agg(F.min("doc_id").alias("keep_id"))
        )
        contam = _contam_perdoc(spark, sf_dir).select(
            "doc_id", "contaminated"
        )
        dsel = _dsir_perdoc(spark, sf_dir).select("doc_id", "selected")

        return (
            stream_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                "source",
                "n_chars",
                F.md5("text").alias("h"),
                F.expr(_quality_exprs(th.SPARK)["quality_ok"]).alias("q"),
                F.when(F.col("doc_id") % EVAL_MOD != 0, 1)
                .otherwise(0)
                .alias("tr"),
            )
            .join(surv, "h", "left")
            .join(contam, "doc_id", "left")
            .join(dsel, "doc_id", "left")
            .select(
                "source",
                "n_chars",
                "q",
                F.when(F.col("keep_id") == F.col("doc_id"), 1)
                .otherwise(0)
                .alias("u"),
                "tr",
                F.when(F.coalesce(F.col("contaminated"), F.lit(0)) == 1, 0)
                .otherwise(1)
                .alias("cl"),
                F.coalesce(F.col("selected"), F.lit(0))
                .cast("int")
                .alias("sel"),
            )
        )

    # keyed on (abspath, mtime, size) via the shared builder so
    # regenerating documents.parquet at the same path within one
    # application can never serve a stale drained table (r10 advice)
    flagged = drained_table(
        spark,
        ("curation_stream_replay", *model_memo_key(sf_dir, "documents")),
        "curation_stream_replay",
        build,
        "append",
    )
    return _funnel_rollup(flagged)


_ABL_TOKS_DUCK = th.tokens("text", th.DUCK)


@query(
    "source_ablation_deltas",
    oracle=f"""
    WITH sl AS (
      SELECT source, lang,
             count(*) AS n_docs,
             CAST(SUM(len({_ABL_TOKS_DUCK})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source, lang
    ), src AS (
      SELECT source,
             CAST(SUM(n_docs) AS BIGINT) AS s_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS s_tokens
      FROM sl GROUP BY source
    ), lng AS (
      SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS l_tokens
      FROM sl GROUP BY lang
    ), tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS t_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS t_tokens
      FROM sl
    ), grid AS (
      SELECT src.source, lng.lang,
             lng.l_tokens - COALESCE(sl.n_tokens, 0) AS lang_tokens_wo
      FROM src CROSS JOIN lng
      LEFT JOIN sl ON sl.source = src.source AND sl.lang = lng.lang
    ), dom AS (
      SELECT source, lang AS dominant_lang_wo, lang_tokens_wo,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY lang_tokens_wo DESC, lang DESC
             ) AS rn
      FROM grid
    )
    SELECT src.source,
           tot.t_docs - src.s_docs AS n_docs_wo,
           tot.t_tokens - src.s_tokens AS n_tokens_wo,
           src.s_tokens / CAST(tot.t_tokens AS DOUBLE) AS token_share,
           CASE WHEN tot.t_docs - src.s_docs = 0 THEN NULL
                ELSE (tot.t_tokens - src.s_tokens)
                     / CAST(tot.t_docs - src.s_docs AS DOUBLE)
           END AS mean_len_wo,
           CASE WHEN tot.t_tokens - src.s_tokens = 0 THEN NULL
                ELSE dom.dominant_lang_wo END AS dominant_lang_wo,
           CASE WHEN tot.t_tokens - src.s_tokens = 0 THEN NULL
                ELSE dom.lang_tokens_wo
                     / CAST(tot.t_tokens - src.s_tokens AS DOUBLE)
           END AS dom_lang_share_wo
    FROM src CROSS JOIN tot
    JOIN dom ON dom.source = src.source AND dom.rn = 1
    ORDER BY src.source
    """,
)
def source_ablation_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data-mixture ablation: for every source,
    the corpus metrics a curation team would see after DROPPING that
    source — document/token counts, the dropped source's token share,
    the remaining mean document length, and the remaining dominant
    language with its share (does removing src X tip the corpus's
    language balance?). The standard planning readout before buying,
    re-crawling, or cutting a source.

    Scale: ONE corpus pass reduces everything to a |sources| x |langs|
    matrix; all 'without source s' numbers are complements
    (global minus per-source) computed on that tiny frame — the corpus
    is never re-scanned per ablation, so the operator costs the same
    whether 5 sources are ablated or 500. The dominant-language argmax
    is a window over the broadcast-sized grid with a deterministic
    (tokens DESC, lang DESC) tie-break shared with the oracle.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = th.tokens("text", th.SPARK)
    # the |sources| x |langs| matrix feeds four consumers (src, lng,
    # tot, grid); cache it so the corpus is scanned exactly once
    sl = session_cached(
        spark,
        frame_memo_tag(sf_dir, "ablation_sl"),
        lambda: docs.groupBy("source", "lang").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.expr(f"size({toks})")).cast("bigint").alias("n_tokens"),
        ),
    )
    # corpus totals as unbounded windows over the tiny cached matrix —
    # a crossJoin with separate aggregates would both BNLJ and re-scan
    w_tot = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    src = (
        sl.groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("s_docs"),
            F.sum("n_tokens").cast("bigint").alias("s_tokens"),
        )
        .withColumn("t_docs", F.sum("s_docs").over(w_tot).cast("bigint"))
        .withColumn("t_tokens", F.sum("s_tokens").over(w_tot).cast("bigint"))
    )
    lng = sl.groupBy("lang").agg(
        F.sum("n_tokens").cast("bigint").alias("l_tokens")
    )
    # sources x langs grid: a broadcast crossJoin of two frames already
    # reduced to O(|sources|) and O(|langs|) rows off the cached matrix
    grid = (
        src.select("source")
        .crossJoin(F.broadcast(lng))
        .join(F.broadcast(sl), ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            (
                F.col("l_tokens") - F.coalesce(F.col("n_tokens"), F.lit(0))
            ).alias("lang_tokens_wo"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.col("lang_tokens_wo").desc(), F.col("lang").desc()
        )
    )
    dom = (
        grid.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "source",
            F.col("lang").alias("dominant_lang_wo"),
            "lang_tokens_wo",
        )
    )
    docs_wo = F.col("t_docs") - F.col("s_docs")
    tokens_wo = F.col("t_tokens") - F.col("s_tokens")
    return (
        src.join(F.broadcast(dom), "source")
        .select(
            "source",
            docs_wo.alias("n_docs_wo"),
            tokens_wo.alias("n_tokens_wo"),
            (F.col("s_tokens") / F.col("t_tokens").cast("double")).alias(
                "token_share"
            ),
            F.when(docs_wo == 0, F.lit(None).cast("double"))
            .otherwise(tokens_wo / docs_wo.cast("double"))
            .alias("mean_len_wo"),
            F.when(tokens_wo == 0, F.lit(None).cast("string"))
            .otherwise(F.col("dominant_lang_wo"))
            .alias("dominant_lang_wo"),
            F.when(tokens_wo == 0, F.lit(None).cast("double"))
            .otherwise(F.col("lang_tokens_wo") / tokens_wo.cast("double"))
            .alias("dom_lang_share_wo"),
        )
        .orderBy("source")
    )


# deterministic epoch-shuffle constants: the training order is the
# portable hash of (seed ':' doc_id); run detection windows are
# partitioned into contiguous hash-range buckets so the global order
# never needs a single-partition window
SHUFFLE_SEED = "epoch0"
SHUFFLE_BUCKETS = 64
_SHUFFLE_BUCKET_DIV = (1 << 60) // SHUFFLE_BUCKETS


def _shuffle_order_sql(dialect: str) -> str:
    cast = "STRING" if dialect == th.SPARK else "VARCHAR"
    return th.md5h(
        f"concat('{SHUFFLE_SEED}:', CAST(doc_id AS {cast}))", dialect
    )


@query(
    "training_order_runs_audit",
    oracle=f"""
    WITH ordered AS (
      SELECT doc_id, source,
             {_shuffle_order_sql(th.DUCK)} AS h,
             {_shuffle_order_sql(th.DUCK)} // {_SHUFFLE_BUCKET_DIV} AS bucket
      FROM documents
    ), runs AS (
      SELECT source, bucket,
             SUM(new_run) OVER (PARTITION BY bucket ORDER BY rn
                                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM (SELECT source, bucket, new_run,
                   ROW_NUMBER() OVER (PARTITION BY bucket
                                      ORDER BY h, doc_id) AS rn
            FROM (SELECT source, bucket, h, doc_id,
                         CASE WHEN LAG(source) OVER
                                (PARTITION BY bucket ORDER BY h, doc_id)
                              IS DISTINCT FROM source
                              THEN 1 ELSE 0 END AS new_run
                  FROM ordered))
    ), run_lens AS (
      SELECT source, bucket, run_id, count(*) AS run_len
      FROM runs GROUP BY source, bucket, run_id
    )
    SELECT source,
           CAST(SUM(run_len) AS BIGINT) AS n_docs,
           count(*) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS max_run,
           SUM(run_len) / CAST(count(*) AS DOUBLE) AS mean_run
    FROM run_lens GROUP BY source ORDER BY source
    """,
)
def training_order_runs_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-quality audit of the deterministic training order: docs
    are ordered by the portable hash of (SHUFFLE_SEED ':' doc_id) —
    the reproducible epoch shuffle a pretraining loader uses — and the
    audit reports, per source, how the shuffle interleaves it:
    adjacent same-source run counts, the longest run, and the mean run
    length (a bad shuffle shows long single-source runs, which bias
    gradient batches). A perfectly mixed corpus has mean_run close to
    1 / (1 - source share).

    Scale: run detection is a lag + gaps-and-islands window PARTITIONED
    by contiguous hash-range bucket ({SHUFFLE_BUCKETS} buckets), so no
    single-partition global window exists; runs never span buckets by
    construction (boundary convention shared with the oracle — at most
    {SHUFFLE_BUCKETS}-1 runs split, immaterial to the audit). One
    shuffle to order within buckets, then per-run and per-source
    reductions."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    h = F.expr(_shuffle_order_sql(th.SPARK))
    ordered = docs.select(
        "doc_id",
        "source",
        h.alias("h"),
        # integer DIV: the hash is up to 2^60, beyond double's 53-bit
        # mantissa — float division would misbucket boundary hashes
        F.expr(
            f"CAST({_shuffle_order_sql(th.SPARK)} DIV {_SHUFFLE_BUCKET_DIV}"
            " AS BIGINT)"
        ).alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("h", "doc_id")
    flagged = ordered.withColumn(
        "new_run",
        F.when(
            F.lag("source").over(w).isNull()
            | (F.lag("source").over(w) != F.col("source")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    run_lens = runs.groupBy("source", "bucket", "run_id").agg(
        F.count("*").alias("run_len")
    )
    return (
        run_lens.groupBy("source")
        .agg(
            F.sum("run_len").cast("bigint").alias("n_docs"),
            F.count("*").alias("n_runs"),
            F.max("run_len").cast("bigint").alias("max_run"),
            (F.sum("run_len") / F.count("*").cast("double")).alias("mean_run"),
        )
        .orderBy("source")
    )


BATCH_SIZE = 32  # sequences per inference/fine-tune batch
LEN_BUCKET_W = 32  # token-length bucket width for the bucketed batcher
BATCH_SHARDS = 16  # window-parallelism shards for batch formation


@query(
    "length_bucket_batch_plan",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             doc_id % {BATCH_SHARDS} AS shard,
             CAST(len({th.tokens('text', th.DUCK)}) AS BIGINT) AS n_tokens
      FROM documents
    ), naive AS (
      SELECT shard, n_tokens,
             (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) - 1)
               // {BATCH_SIZE} AS batch_id
      FROM sized
    ), bucketed AS (
      SELECT shard, n_tokens,
             n_tokens // {LEN_BUCKET_W} AS len_bucket,
             (ROW_NUMBER() OVER (PARTITION BY shard, n_tokens // {LEN_BUCKET_W}
                                 ORDER BY doc_id) - 1)
               // {BATCH_SIZE} AS batch_id
      FROM sized
    ), naive_b AS (
      SELECT shard, batch_id, count(*) AS n_seqs,
             MAX(n_tokens) AS max_len, SUM(n_tokens) AS real_tokens
      FROM naive GROUP BY shard, batch_id
    ), bucketed_b AS (
      SELECT shard, len_bucket, batch_id, count(*) AS n_seqs,
             MAX(n_tokens) AS max_len, SUM(n_tokens) AS real_tokens
      FROM bucketed GROUP BY shard, len_bucket, batch_id
    ), both_b AS (
      SELECT 'naive' AS strategy, n_seqs, max_len, real_tokens FROM naive_b
      UNION ALL
      SELECT 'length_bucketed' AS strategy, n_seqs, max_len, real_tokens
      FROM bucketed_b
    )
    SELECT strategy,
           count(*) AS n_batches,
           CAST(SUM(n_seqs) AS BIGINT) AS n_seqs,
           CAST(SUM(real_tokens) AS BIGINT) AS real_tokens,
           CAST(SUM(n_seqs * max_len - real_tokens) AS BIGINT)
               AS padded_slots,
           SUM(n_seqs * max_len - real_tokens)
             / CAST(SUM(n_seqs * max_len) AS DOUBLE) AS waste_ratio
    FROM both_b GROUP BY strategy ORDER BY strategy
    """,
)
def length_bucket_batch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste accounting for batched inference / fine-tuning:
    every batch of {BATCH_SIZE} sequences pads to its longest member,
    so batching in arrival (doc_id) order wastes max_len - len slots
    per sequence. The operator forms batches BOTH ways — naive
    arrival order vs bucketing by {LEN_BUCKET_W}-token length band
    (the standard dynamic-batching trick) — and reports total batches,
    real tokens, padded slots, and the waste ratio per strategy: the
    measured GPU-hours argument for length bucketing.

    Scale: batch formation is a row_number window partitioned by
    {BATCH_SHARDS} hash shards (and the length band for the bucketed
    arm), so no global-order window exists; each arm is one window +
    one two-level reduction over (shard, batch) groups. Everything is
    exact integer arithmetic except the final waste-ratio division.
    Int64 bound (r13 overflow audit): per-batch n_seqs*max_len is a
    constant (batch size x max doc tokens ~ 1e4), so SUM(n_seqs *
    max_len) <= padded token slots ~ corpus tokens x O(1) — linear in
    sf, crossing int64 only past ~1e9x today's corpus.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    toks = th.tokens("text", th.SPARK)
    sized = docs.select(
        "doc_id",
        (F.col("doc_id") % BATCH_SHARDS).alias("shard"),
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tokens"),
    )
    naive = sized.withColumn(
        "batch_id",
        F.floor(
            (
                F.row_number().over(
                    Window.partitionBy("shard").orderBy("doc_id")
                )
                - 1
            )
            / BATCH_SIZE
        ),
    )
    bucketed = sized.withColumn(
        "len_bucket", F.floor(F.col("n_tokens") / LEN_BUCKET_W)
    ).withColumn(
        "batch_id",
        F.floor(
            (
                F.row_number().over(
                    Window.partitionBy("shard", "len_bucket").orderBy("doc_id")
                )
                - 1
            )
            / BATCH_SIZE
        ),
    )
    naive_b = naive.groupBy("shard", "batch_id").agg(
        F.count("*").alias("n_seqs"),
        F.max("n_tokens").alias("max_len"),
        F.sum("n_tokens").alias("real_tokens"),
    )
    bucketed_b = bucketed.groupBy("shard", "len_bucket", "batch_id").agg(
        F.count("*").alias("n_seqs"),
        F.max("n_tokens").alias("max_len"),
        F.sum("n_tokens").alias("real_tokens"),
    )
    both = naive_b.select(
        F.lit("naive").alias("strategy"), "n_seqs", "max_len", "real_tokens"
    ).unionByName(
        bucketed_b.select(
            F.lit("length_bucketed").alias("strategy"),
            "n_seqs",
            "max_len",
            "real_tokens",
        )
    )
    padded = F.col("n_seqs") * F.col("max_len") - F.col("real_tokens")
    return (
        both.groupBy("strategy")
        .agg(
            F.count("*").alias("n_batches"),
            F.sum("n_seqs").cast("bigint").alias("n_seqs"),
            F.sum("real_tokens").cast("bigint").alias("real_tokens"),
            F.sum(padded).cast("bigint").alias("padded_slots"),
            (
                F.sum(padded)
                / F.sum(F.col("n_seqs") * F.col("max_len")).cast("double")
            ).alias("waste_ratio"),
        )
        .orderBy("strategy")
    )


# curriculum phases by stopword per-mille (exact integer score):
# cleaner, denser text trains first; noisier text arrives in later
# phases. Cut points chosen for non-degenerate occupancy on the
# synthetic corpus; at 100 TB they'd come from a one-pass quantile
# sketch over the same integer score.
CURRICULUM_CUTS = (40, 80, 120)


def _curriculum_score(dialect: str) -> tuple[str, str]:
    """(stop_permille, n_tokens) integer expressions."""
    from end2end_data_pipeline_spark.operators.text_analysis import _STOP_IN

    toks = th.tokens("text", dialect)
    if dialect == th.SPARK:
        n_stop = f"size(filter({toks}, x -> x IN ({_STOP_IN})))"
        n_tok = f"size({toks})"
    else:
        n_stop = f"len(list_filter({toks}, x -> x IN ({_STOP_IN})))"
        n_tok = f"len({toks})"
    div = "DIV" if dialect == th.SPARK else "//"
    return (
        f"(CAST({n_stop} AS BIGINT) * 1000 {div} {n_tok})",
        f"CAST({n_tok} AS BIGINT)",
    )


def _phase_case(permille: str) -> str:
    c0, c1, c2 = CURRICULUM_CUTS
    return (
        f"CASE WHEN {permille} < {c0} THEN 0 "
        f"WHEN {permille} < {c1} THEN 1 "
        f"WHEN {permille} < {c2} THEN 2 ELSE 3 END"
    )


@query(
    "curriculum_phase_plan",
    oracle=f"""
    WITH scored AS (
      SELECT source, lang,
             {_curriculum_score(th.DUCK)[1]} AS n_tokens,
             {_phase_case(_curriculum_score(th.DUCK)[0])} AS phase
      FROM documents
    ), per AS (
      SELECT phase,
             count(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             count(DISTINCT source) AS n_sources,
             count(DISTINCT lang) AS n_langs
      FROM scored GROUP BY phase
    ), tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per)
    SELECT CAST(phase AS INT) AS phase, n_docs, n_tokens,
           n_sources, n_langs,
           n_tokens / CAST(tot.t AS DOUBLE) AS token_share,
           CAST(SUM(n_tokens) OVER (ORDER BY phase
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
    FROM per CROSS JOIN tot ORDER BY phase
    """,
)
def curriculum_phase_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-training phase plan: documents are assigned to four
    phases by an exact integer cleanliness score (stopword per-mille —
    cleaner text first, noisier text later), and the plan reports each
    phase's size, token budget, share, source/language diversity, and
    the cumulative token count a trainer consumes by the end of the
    phase. The curriculum analog of the source-mix planners.

    Scale: phase assignment is a stateless per-row integer expression
    (NO global sort, NO rank — the usual quantile-rank curriculum is
    replaced by fixed score thresholds, which is how it ships at
    100 TB: thresholds from a one-pass sketch, assignment embarrassingly
    parallel). One corpus pass reduces to a 4-row frame; the cumulative
    window runs on those 4 rows."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    permille, n_tok = _curriculum_score(th.SPARK)
    scored = docs.select(
        "source",
        "lang",
        F.expr(n_tok).alias("n_tokens"),
        F.expr(_phase_case(permille)).alias("phase"),
    )
    per = scored.groupBy("phase").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
    )
    # corpus token total as a window over the 4-row phase frame — a
    # crossJoin with a separate aggregate would re-scan the corpus
    w_all = Window.orderBy("phase").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = Window.orderBy("phase").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.withColumn("t", F.sum("n_tokens").over(w_all))
        .select(
            F.col("phase").cast("int").alias("phase"),
            "n_docs",
            "n_tokens",
            "n_sources",
            "n_langs",
            (F.col("n_tokens") / F.col("t").cast("double")).alias(
                "token_share"
            ),
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        )
        .orderBy("phase")
    )


APPORTION_BUDGET = 1_000_000  # training-sequence slots to allocate


@query(
    "source_budget_apportionment",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS total,
             CASE WHEN count(*) = 0 THEN 0.0
                  ELSE CAST(list_reduce(
                         list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))),
                         (a, b) -> a + b) AS DOUBLE)
             END AS z
      FROM per_source
    ), quotas AS (
      SELECT source, n_tokens,
             ({APPORTION_BUDGET} * n_tokens) // total AS floor_p,
             ({APPORTION_BUDGET} * n_tokens) % total AS rem_p,
             CAST(FLOOR({APPORTION_BUDGET}
                        * (sqrt(CAST(n_tokens AS DOUBLE)) / z)) AS BIGINT)
                 AS floor_t,
             {APPORTION_BUDGET} * (sqrt(CAST(n_tokens AS DOUBLE)) / z)
               - FLOOR({APPORTION_BUDGET}
                       * (sqrt(CAST(n_tokens AS DOUBLE)) / z)) AS frac_t
      FROM per_source CROSS JOIN tot
    ), ranked AS (
      SELECT source, n_tokens, floor_p, floor_t,
             ROW_NUMBER() OVER (ORDER BY rem_p DESC, source) AS rank_p,
             ROW_NUMBER() OVER (ORDER BY frac_t DESC, source) AS rank_t,
             {APPORTION_BUDGET} - SUM(floor_p) OVER () AS extra_p,
             {APPORTION_BUDGET} - SUM(floor_t) OVER () AS extra_t
      FROM quotas
    )
    SELECT source, n_tokens,
           CAST(floor_p + CASE WHEN rank_p <= extra_p THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_proportional,
           CAST(floor_t + CASE WHEN rank_t <= extra_t THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_temperature
    FROM ranked ORDER BY source
    """,
)
def source_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed training
    budget across sources — the step that turns sampling WEIGHTS into
    the exact integer sampling COUNTS a data loader consumes, with
    both arms reported side by side: proportional-to-tokens (quota
    arithmetic fully in exact BIGINTs — remainders are integer
    modulos) and the temperature (share^0.5) mix, whose quotas reuse
    source_temperature_mix's pinned sorted-fold normalizer so the
    float fractions are bit-identical across engines. Each column
    sums EXACTLY to the budget by construction — the property float
    rounding of weights always breaks and this operator exists to
    restore.

    Scale: one corpus pass to a |sources|-row frame; ranking and the
    leftover distribution are windows over that catalog-sized frame
    (the unbounded windows run on O(sources) rows, never data)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = th.tokens("text", th.SPARK)
    per_source = docs.groupBy("source").agg(
        F.sum(F.expr(f"size({toks})")).cast("bigint").alias("n_tokens")
    )
    w_all = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # pinned normalizer: sorted left-fold of per-source sqrt values
    # (the source_temperature_mix device)
    with_tot = per_source.withColumn(
        "total", F.sum("n_tokens").over(w_all).cast("bigint")
    ).withColumn(
        "z",
        F.expr(
            "aggregate(array_sort(collect_list(sqrt(CAST(n_tokens AS"
            " DOUBLE))) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND UNBOUNDED FOLLOWING)), CAST(0.0 AS DOUBLE),"
            " (a, b) -> a + b)"
        ),
    )
    b = APPORTION_BUDGET
    quota_t = b * (F.sqrt(F.col("n_tokens").cast("double")) / F.col("z"))
    quotas = with_tot.select(
        "source",
        "n_tokens",
        F.expr(f"CAST(({b} * n_tokens) DIV total AS BIGINT)").alias("floor_p"),
        F.expr(f"({b} * n_tokens) % total").alias("rem_p"),
        F.floor(quota_t).cast("bigint").alias("floor_t"),
        (quota_t - F.floor(quota_t)).alias("frac_t"),
    )
    ranked = (
        quotas.withColumn(
            "rank_p",
            F.row_number().over(
                Window.orderBy(F.col("rem_p").desc(), "source")
            ),
        )
        .withColumn(
            "rank_t",
            F.row_number().over(
                Window.orderBy(F.col("frac_t").desc(), "source")
            ),
        )
        .withColumn("extra_p", b - F.sum("floor_p").over(w_all))
        .withColumn("extra_t", b - F.sum("floor_t").over(w_all))
    )
    return ranked.select(
        "source",
        "n_tokens",
        (
            F.col("floor_p")
            + F.when(F.col("rank_p") <= F.col("extra_p"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_proportional"),
        (
            F.col("floor_t")
            + F.when(F.col("rank_t") <= F.col("extra_t"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_temperature"),
    ).orderBy("source")
