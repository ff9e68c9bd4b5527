"""Text analysis over the ``documents`` table — the LLM-training-data
operators (BASELINE.json north star): quality scoring, token counting,
n-gram language-ID heuristic, document fingerprinting.

All computation is per-row array math over built-in functions (split /
transform / aggregate / regexp) — JVM-side, whole-stage codegen'd, no
UDFs, no shuffle except the final aggregates. At 100 TB these queries
are embarrassingly parallel scans; the only shuffles are the O(langs),
O(sources) rollups.

Every ratio is a division of exact integers (engine-portable); hashes
are the portable md5-based hash (functions/texthash.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from end2end_data_pipeline_spark.functions import texthash as th
from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import (
    fan_out,
    frame_memo_tag,
    input_scaled_partitions,
    load_table,
    model_memo_key,
    session_cached,
    session_memo,
)

STOPWORDS = ("the", "a", "of", "and", "is")
_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)

# BPE-ish token pattern: word pieces OR runs of non-word-non-space
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

MIN_TOKENS_OK = 10
MAX_STOP_RATIO = 0.5


def _quality_exprs(dialect: str) -> dict[str, str]:
    """Shared Spark/DuckDB expression set for the quality query."""
    toks = th.tokens("text", dialect)
    if dialect == th.SPARK:
        n_stop = f"size(filter({toks}, x -> x IN ({_STOP_IN})))"
        n_tokens = f"size({toks})"
    else:
        n_stop = f"len(list_filter({toks}, x -> x IN ({_STOP_IN})))"
        n_tokens = f"len({toks})"
    return {
        "n_tokens": f"CAST({n_tokens} AS BIGINT)",
        "n_stopwords": f"CAST({n_stop} AS BIGINT)",
        "stop_ratio": f"{n_stop} / CAST({n_tokens} AS DOUBLE)",
        "chars_per_token": f"n_chars / CAST({n_tokens} AS DOUBLE)",
        "quality_ok": (
            f"CAST(CASE WHEN {n_tokens} >= {MIN_TOKENS_OK} "
            f"AND {n_stop} / CAST({n_tokens} AS DOUBLE) <= {MAX_STOP_RATIO} "
            f"THEN 1 ELSE 0 END AS INT)"
        ),
    }


def _select_sql(dialect: str, exprs: dict[str, str], extra: str = "doc_id, lang") -> str:
    cols = ",\n           ".join(f"{v} AS {k}" for k, v in exprs.items())
    return f"SELECT {extra},\n           {cols}\n    FROM documents"


@query(
    "text_quality_scores",
    oracle=_select_sql(th.DUCK, _quality_exprs(th.DUCK)) + "\n    ORDER BY doc_id",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, stopword ratio,
    chars/token, and a keep/drop flag (the filter an LLM data pipeline
    applies before training)."""
    docs = load_table(spark, sf_dir, "documents")
    e = _quality_exprs(th.SPARK)
    return docs.select(
        "doc_id",
        "lang",
        *[F.expr(v).alias(k) for k, v in e.items()],
    ).orderBy("doc_id")


@query(
    "token_stats_by_lang",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{TOKEN_RE}'))) AS BIGINT)
               AS re_tokens,
           SUM(len(string_split(text, ' '))) / CAST(count(*) AS DOUBLE)
               AS tokens_per_doc
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (whitespace + BPE-ish regex) rolled up by
    language — the 'how many tokens is this corpus' pipeline question."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.expr("size(split(text, ' '))")
    re_t = F.expr(f"size(regexp_extract_all(text, '{TOKEN_RE}', 0))")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ws).cast("bigint").alias("ws_tokens"),
            F.sum(re_t).cast("bigint").alias("re_tokens"),
            (F.sum(ws) / F.count("*").cast("double")).alias("tokens_per_doc"),
        )
        .orderBy("lang")
    )


def _marker_count(marker: str, dialect: str) -> str:
    """Occurrences of a marker substring in text (exact int math)."""
    return (
        f"CAST((length(text) - length(replace(text, '{marker}', ''))) "
        f"/ {len(marker)} AS BIGINT)"
    )


def _langid_exprs(dialect: str) -> tuple[str, str]:
    """(score columns, predicted-lang CASE) shared by both dialects.

    A real n-gram language identifier scores character n-grams against
    per-language profiles; the corpus here is synthetic, so the profile
    set is a fixed trio of marker n-grams with a deterministic argmax.
    The *shape* (markers -> scores -> argmax) is the production one.
    """
    c_th = _marker_count("th", dialect)
    c_er = _marker_count("er", dialect)
    c_an = _marker_count("an", dialect)
    pred = (
        f"CASE WHEN {c_th} >= {c_er} AND {c_th} >= {c_an} THEN 'en' "
        f"WHEN {c_er} >= {c_an} THEN 'de' ELSE 'es' END"
    )
    scores = f"{c_th} AS score_en, {c_er} AS score_de, {c_an} AS score_es"
    return scores, pred


@query(
    "lang_id_confusion",
    oracle=f"""
    SELECT lang, {_langid_exprs(th.DUCK)[1]} AS predicted_lang, count(*) AS n
    FROM documents GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language-ID heuristic, reported as a confusion
    matrix against the labeled ``lang`` column."""
    docs = load_table(spark, sf_dir, "documents")
    _, pred = _langid_exprs(th.SPARK)
    return (
        docs.groupBy("lang", F.expr(pred).alias("predicted_lang"))
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted_lang")
    )


def _fingerprint_sql(dialect: str) -> str:
    toks = th.tokens("text", dialect)
    return th.fingerprint(toks, dialect)


@query(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id, CAST({_fingerprint_sql(th.DUCK)} AS BIGINT) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted polynomial fingerprint per document (rolling-
    hash style: permutations of the same words fingerprint differently).
    Pure per-row array math — no shuffle at all (fan_out only
    rescues the degenerate single-split scan)."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.expr(_fingerprint_sql(th.SPARK)).cast("bigint").alias("fingerprint"),
    ).orderBy("doc_id")


@query(
    "corpus_stats_by_source",
    oracle="""
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           SUM(n_chars) / CAST(count(*) AS DOUBLE) AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents GROUP BY source, lang ORDER BY source, lang
    """,
)
def corpus_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup (source x lang) — the dataset-card
    summary an LLM data pipeline publishes."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (F.sum("n_chars") / F.count("*").cast("double")).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source", "lang")
    )


TOP_VOCAB = 50


@query(
    "vocab_top_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, count(*) AS n, count(DISTINCT lang) AS n_langs
    FROM tok
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT {TOP_VOCAB}
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: explode tokens → frequency + language
    breadth, global top-N. The canonical explode+aggregate shape —
    partial counts combine map-side, so the shuffle carries one row
    per distinct token per partition, not one per token occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("lang").alias("n_langs"),
        )
        .orderBy(F.col("n").desc(), "token")
        .limit(TOP_VOCAB)
    )


TFIDF_TOP_K = 10


@query(
    "tfidf_top_terms",
    # idf uses the log-free BM25-style rational form
    # (N - df + 0.5)/(df + 0.5): ln() is not guaranteed bit-identical
    # across engines, but +,-,/ on exact integers are IEEE
    # correctly-rounded in both, so the score hashes identically.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), nlang AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ), stats AS (
      SELECT lang, term,
             count(*) AS tf,
             count(DISTINCT doc_id) AS df
      FROM tok WHERE term <> '' GROUP BY lang, term
    ), scored AS (
      SELECT s.lang, s.term,
             CAST(tf AS BIGINT) AS tf,
             CAST(df AS BIGINT) AS df,
             CAST(tf AS DOUBLE)
               * ((n.n_docs - df + 0.5) / (df + 0.5)) AS tfidf
      FROM stats s JOIN nlang n USING (lang)
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY lang ORDER BY tfidf DESC, term
             ) AS rk
      FROM scored
    )
    SELECT lang, term, tf, df, tfidf, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {TFIDF_TOP_K}
    ORDER BY lang, rk
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language TF-IDF head terms: explode tokens, one aggregation
    for (tf, df) per (lang, term) — count_distinct(doc_id) expands to
    a two-phase aggregate with map-side partials — then a broadcast of
    the O(|langs|) doc-count table and a per-lang top-k window. The
    shuffle carries distinct (lang, term) pairs, never token
    occurrences. Scoring uses the log-free BM25-style idf so both
    engines produce bit-identical doubles."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    nlang = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    stats = tok.groupBy("lang", "term").agg(
        F.count("*").cast("bigint").alias("tf"),
        F.count_distinct("doc_id").cast("bigint").alias("df"),
    )
    scored = stats.join(F.broadcast(nlang), "lang").select(
        "lang",
        "term",
        "tf",
        "df",
        (
            F.col("tf").cast("double")
            * (
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
        ).alias("tfidf"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .orderBy("lang", "rk")
    )


PREFIX_TOKENS = 8


@query(
    "boilerplate_prefix_groups",
    oracle=f"""
    WITH pref AS (
      SELECT doc_id,
             CAST({th.fingerprint(f"(string_split(text, ' '))[1:{PREFIX_TOKENS}]", th.DUCK)}
                  AS BIGINT) AS prefix_fp
      FROM documents
    )
    SELECT prefix_fp,
           count(*) AS n_docs,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM pref
    GROUP BY prefix_fp
    HAVING count(*) > 1
    ORDER BY n_docs DESC, prefix_fp
    """,
)
def boilerplate_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/header detection: fingerprint each document's first
    {PREFIX_TOKENS} tokens (order-sensitive rolling-hash polynomial,
    ``texthash.fingerprint``) and group on it — docs sharing a prefix
    fingerprint share an opening passage (scraped template headers,
    license preambles). One shuffle on an 8-byte key; the fingerprint
    itself is per-row codegen'd integer math."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = f"slice(split(text, ' '), 1, {PREFIX_TOKENS})"
    pref = docs.select(
        "doc_id",
        F.expr(th.fingerprint(prefix, th.SPARK)).alias("prefix_fp"),
    )
    return (
        pref.groupBy("prefix_fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy(F.col("n_docs").desc(), "prefix_fp")
    )


@query(
    "training_corpus_filter",
    # The composition an LLM data pipeline actually ships: quality
    # gate AND lang-ID agreement AND exact-dedup survivorship, with a
    # per-stage funnel so the drop reasons are auditable. Survivorship
    # = doc is the min doc_id of its md5(text) group (the
    # dedup_exact_survivors policy).
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars, text,
             {_quality_exprs(th.DUCK)['quality_ok']} AS quality_ok,
             CASE WHEN {_langid_exprs(th.DUCK)[1]} = lang
                  THEN 1 ELSE 0 END AS lang_ok
      FROM documents
    ), survivors AS (
      SELECT md5(text) AS h, MIN(doc_id) AS keep_id
      FROM documents GROUP BY md5(text)
    ), flagged AS (
      SELECT s.lang, s.n_chars, s.quality_ok, s.lang_ok,
             CASE WHEN v.keep_id = s.doc_id THEN 1 ELSE 0 END AS dedup_ok
      FROM scored s JOIN survivors v ON md5(s.text) = v.h
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(quality_ok) AS BIGINT) AS n_quality_ok,
           CAST(SUM(quality_ok * lang_ok) AS BIGINT) AS n_lang_ok,
           CAST(SUM(quality_ok * lang_ok * dedup_ok) AS BIGINT) AS n_kept,
           CAST(SUM(quality_ok * lang_ok * dedup_ok * n_chars) AS BIGINT)
               AS kept_chars
    FROM flagged GROUP BY lang ORDER BY lang
    """,
)
def training_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus filter funnel: per language, how many docs
    pass the quality gate, then also lang-ID agreement, then also
    exact-dedup survivorship — and how many chars the surviving corpus
    keeps. Composes three operator families in ONE plan: per-row
    quality/lang math rides the scan; the only shuffle is the
    md5-groupBy for survivorship (8-byte keys, map-side combined) and
    the O(|langs|) rollup. This is the query shape that materializes a
    training corpus at 100 TB — filters first, dedup on hashes, never
    moving document bodies more than once."""
    # per-doc scored base shared with the curation funnel / stream
    # replay (r14, session-cached in corpus_ops._curation_scored):
    # one documents scan + md5 + quality/lang-ID expression pass per
    # session serves this query's scored rows AND its survivor
    # aggregate (lazy import — corpus_ops lazily imports this module's
    # expression builders, so neither import is module-level)
    from end2end_data_pipeline_spark.operators.corpus_ops import (
        _curation_scored,
    )

    base = _curation_scored(spark, sf_dir)
    scored = base.select(
        "doc_id",
        "lang",
        "n_chars",
        "h",
        F.col("q").alias("quality_ok"),
        "lang_ok",
    )
    survivors = base.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    flagged = scored.join(survivors, "h").select(
        "lang",
        "n_chars",
        "quality_ok",
        "lang_ok",
        F.when(F.col("keep_id") == F.col("doc_id"), 1).otherwise(0).alias(
            "dedup_ok"
        ),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("quality_ok").cast("bigint").alias("n_quality_ok"),
            F.sum(F.col("quality_ok") * F.col("lang_ok"))
            .cast("bigint")
            .alias("n_lang_ok"),
            F.sum(F.col("quality_ok") * F.col("lang_ok") * F.col("dedup_ok"))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(
                F.col("quality_ok")
                * F.col("lang_ok")
                * F.col("dedup_ok")
                * F.col("n_chars")
            )
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("lang")
    )


TOKEN_HIST_BUCKET = 25


@query(
    "token_count_histogram",
    oracle=f"""
    WITH counted AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT lang,
           CAST((n_tokens // {TOKEN_HIST_BUCKET}) * {TOKEN_HIST_BUCKET} AS BIGINT)
               AS bucket_lo,
           count(*) AS n_docs,
           CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
    FROM counted
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def token_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in {TOKEN_HIST_BUCKET}-token buckets
    per language — the length-distribution audit run before choosing a
    training sequence length. Integer bucket math (floor division) is
    engine-portable; one O(|langs| x |buckets|) shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    bucket_lo = (
        (n_tokens / TOKEN_HIST_BUCKET).cast("int") * TOKEN_HIST_BUCKET
    ).cast("bigint")
    return (
        docs.select("lang", n_tokens.alias("n_tokens"), bucket_lo.alias("bucket_lo"))
        .groupBy("lang", "bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang", "bucket_lo")
    )


RARE_BIGRAM_MAX = 2  # corpus frequency at or below which a bigram is "rare"


def _bigram_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, bigram) occurrence counts (with the doc's lang riding
    along), session-cached: ONE corpus tokenize + shingle-explode +
    per-doc-keyed partial aggregate serves the bigram LM profile and
    the diversity bands — each previously ran its own explode pass
    (the surprise profile ran it twice: once under the LM build, once
    as the join probe). Rows are bounded by distinct (doc, bigram)
    pairs, far below raw occurrences on repetitive text."""
    docs = load_table(spark, sf_dir, "documents")
    occ = fan_out(spark, docs).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(th.shingles(th.tokens("text", th.SPARK), 2, th.SPARK))
        ).alias("bigram"),
    )
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "bigram_doc_counts"),
        lambda: occ.groupBy("doc_id", "lang", "bigram")
        .agg(F.count("*").alias("k"))
        .coalesce(input_scaled_partitions(sf_dir, "documents")),
    )


@query(
    "bigram_surprise_profile",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, unnest({th.shingles(th.tokens('text', th.DUCK), 2, th.DUCK)})
                 AS bigram
      FROM documents
    ), lm AS (
      SELECT bigram, count(*) AS c FROM occ GROUP BY bigram
    )
    SELECT o.doc_id,
           count(*) AS n_bigrams,
           CAST(count(DISTINCT o.bigram) AS BIGINT) AS n_distinct,
           CAST(MIN(lm.c) AS BIGINT) AS rarest_count,
           CAST(SUM(CASE WHEN lm.c <= {RARE_BIGRAM_MAX} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rare,
           SUM(CASE WHEN lm.c <= {RARE_BIGRAM_MAX} THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) AS rare_ratio
    FROM occ o JOIN lm USING (bigram)
    GROUP BY o.doc_id ORDER BY o.doc_id
    """,
)
def bigram_surprise_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM surprise profile per document — the log-free stand-in
    for perplexity-based quality filtering: build a bigram language
    model from the corpus itself, then score each document by how many
    of its bigrams are corpus-rare (frequency <= {RARE_BIGRAM_MAX}) and
    by its rarest bigram's corpus count. Gibberish and boilerplate sit
    at the two extremes of rare_ratio. Exact-integer counts plus one
    per-row division keep the score engine-portable (ln()-based
    perplexity is not bit-stable across engines — same rationale as
    tfidf_top_terms' rational idf).

    Scale: everything folds out of the shared per-(doc, bigram) count
    frame (``_bigram_doc_counts`` — one cached tokenize+explode pass,
    partial-aggregated on the per-doc key so hot stop-bigrams never
    concentrate): the LM table is its bigram rollup (vocab-bounded),
    the join probes with DISTINCT (doc, bigram) rows instead of raw
    occurrences, and the per-doc aggregate needs no count-distinct
    Expand (n_bigrams = sum k, n_distinct = row count, n_rare = sum of
    k over rare bigrams — identical integers; the r13 form exploded
    the corpus twice and shipped every occurrence into the join)."""
    per_db = _bigram_doc_counts(spark, sf_dir)
    lm = per_db.groupBy("bigram").agg(F.sum("k").alias("c"))
    rare_k = F.when(F.col("c") <= RARE_BIGRAM_MAX, F.col("k")).otherwise(
        F.lit(0)
    )
    return (
        per_db.join(lm, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.min("c").cast("bigint").alias("rarest_count"),
            F.sum(rare_k).cast("bigint").alias("n_rare"),
            (
                F.sum(rare_k) / F.sum("k").cast("double")
            ).alias("rare_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_bigram_diversity_bands",
    # Gini-Simpson diversity 1 - sum(c_i^2)/N^2 per document, banded
    # ENTIRELY by integer cross-multiplication (100*(N^2 - sum(c^2))
    # vs k*N^2) — the log-free entropy stand-in, so no float ever
    # enters the banding (same device as user_type_diversity_bands).
    # Int64 bound (r13 overflow audit): N is PER-DOCUMENT bigram
    # count, bounded by document length (~600 chars -> ~100 bigrams)
    # independent of sf, so 100*N^2 ~ 1e6 at any scale.
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, lang,
             unnest({th.shingles(th.tokens('text', th.DUCK), 2, th.DUCK)})
                 AS bigram
      FROM documents
    ), per_bigram AS (
      SELECT doc_id, lang, bigram, count(*) AS c
      FROM occ GROUP BY doc_id, lang, bigram
    ), per_doc AS (
      SELECT doc_id, lang,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * c) AS BIGINT) AS sum_sq
      FROM per_bigram GROUP BY doc_id, lang
    ), banded AS (
      SELECT lang, n,
             CASE
               WHEN 100 * (n * n - sum_sq) < 50 * n * n THEN 'a_lt50'
               WHEN 100 * (n * n - sum_sq) < 80 * n * n THEN 'b_lt80'
               WHEN 100 * (n * n - sum_sq) < 95 * n * n THEN 'c_lt95'
               ELSE 'd_ge95'
             END AS diversity_band
      FROM per_doc
    )
    SELECT lang, diversity_band, count(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_bigrams
    FROM banded GROUP BY lang, diversity_band
    ORDER BY lang, diversity_band
    """,
)
def docs_bigram_diversity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-vs-diversity census of the corpus: per document the
    Gini-Simpson diversity of its token bigrams (low = looping/
    boilerplate text, high = varied prose), banded at 0.5/0.8/0.95 and
    rolled up per language — the quality-filter cut a pretraining
    pipeline applies before tokenization, without the ln() that an
    entropy score would need (not bit-stable across engines).

    Scale: bigram occurrences partial-aggregate on (doc, bigram) —
    the per-doc key keeps hot stop-bigrams from concentrating — then
    collapse to two integers per doc and an O(langs x 4) rollup.
    No join, no window, no float before the final rollup. The
    per-(doc, bigram) counts come from the shared cached frame
    (``_bigram_doc_counts``) the surprise profile also reads."""
    per_doc = (
        _bigram_doc_counts(spark, sf_dir)
        .withColumnRenamed("k", "c")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
        )
    )
    nn = F.col("n") * F.col("n")
    spread = (nn - F.col("sum_sq")) * 100
    band = (
        F.when(spread < 50 * nn, "a_lt50")
        .when(spread < 80 * nn, "b_lt80")
        .when(spread < 95 * nn, "c_lt95")
        .otherwise("d_ge95")
    )
    return (
        per_doc.select("lang", "n", band.alias("diversity_band"))
        .groupBy("lang", "diversity_band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_bigrams"),
        )
        .orderBy("lang", "diversity_band")
    )


BPE_TOP_MERGES = 20


@query(
    "bpe_merge_candidates",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, count(*) AS freq FROM words WHERE w <> '' GROUP BY w
    ), pairs AS (
      SELECT substring(w, CAST(i AS INT), 2) AS pair, freq
      FROM vocab, unnest(range(1, length(w))) AS t(i)
      WHERE length(w) >= 2
    ), agg AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
      FROM pairs GROUP BY pair
    ), ranked AS (
      SELECT pair, n_occurrences,
             row_number() OVER (ORDER BY n_occurrences DESC, pair) AS rank
      FROM agg
    )
    SELECT pair, n_occurrences, rank FROM ranked
    WHERE rank <= {BPE_TOP_MERGES} ORDER BY rank
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training (Sennrich et al.
    2016): the corpus-frequency-weighted count of adjacent character
    pairs within words, ranked — the top pair is the first merge a
    BPE vocabulary would learn. Training data pipelines run exactly
    this shape (pair-count → merge → repeat) to fit tokenizers to a
    corpus; this query makes the expensive step — the corpus-wide
    weighted pair census — a registry operator.

    Scale: the CORPUS contributes one word-frequency rollup
    (split+explode, partial-aggregated); pair expansion then runs
    over the VOCABULARY (O(|vocab| x avg word length) rows), which is
    corpus-size-independent — the same reason real BPE trainers
    operate on word-frequency tables, not raw text. The final rank
    window orders O(alphabet²) pair totals — audit-sized."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count("*").alias("freq"))
    # guard length>=2 BEFORE the sequence explode: Spark's
    # sequence(1, 0) auto-steps DOWN and would emit junk positions
    # for single-character words
    pairs = (
        vocab.where(F.length("w") >= 2)
        .select(
            "w",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(F.expr("substring(w, i, 2)").alias("pair"), "freq")
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("freq").cast("bigint").alias("n_occurrences")
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), "pair")
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BPE_TOP_MERGES)
        .orderBy("rank")
    )


BPE_STEPS = 8

# '|' delimits symbols inside a sequence string, so pipe-containing
# words are excluded from BPE training (none exist in the fixtures;
# the filter pins the convention in both engines)
_BPE_V0 = {
    th.SPARK: (
        "'|' || array_join(transform(sequence(1, length(w)), "
        "i -> substring(w, i, 1)), '|') || '|'"
    ),
    th.DUCK: (
        "'|' || array_to_string(list_transform(range(1, length(w) + 1), "
        "i -> substring(w, CAST(i AS INT), 1)), '|') || '|'"
    ),
}


def _bpe_cte_body(k: int) -> str:
    """Unrolled BPE training rounds as chained CTEs (the kmeans /
    PageRank oracle pattern): census c{r} over vocab v{r-1}, argmax
    m{r}, merged vocab v{r}. v{r} LEFT-joins its merge row so a
    census that runs dry leaves the vocabulary UNCHANGED (matching
    the Spark loop's early break) while every later m{r} stays empty.
    Shared by the merge-table and encode-stats oracles."""
    ctes = [
        f"""v0 AS (
          SELECT w, {_BPE_V0[th.DUCK]} AS seq, freq FROM (
            SELECT w, count(*) AS freq FROM (
              SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE w <> '' AND w NOT LIKE '%|%' GROUP BY w
          )
        )"""
    ]
    for r in range(1, k + 1):
        ctes.append(
            f"""c{r} AS (
          SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
                 CAST(SUM(freq) AS BIGINT) AS n_occurrences
          FROM (SELECT string_split(trim(seq, '|'), '|') AS syms, freq
                FROM v{r - 1}), unnest(range(1, len(syms))) AS t(i)
          GROUP BY 1, 2
        )"""
        )
        ctes.append(
            f"""m{r} AS (
          SELECT l, r, n_occurrences FROM c{r}
          ORDER BY n_occurrences DESC, l, r LIMIT 1
        )"""
        )
        ctes.append(
            f"""v{r} AS (
          SELECT v.w,
                 CASE WHEN m.l IS NULL THEN v.seq
                      ELSE replace(replace(replace(v.seq, '|', '||'),
                   '|' || m.l || '||' || m.r || '|',
                   '|' || m.l || m.r || '|'), '||', '|')
                 END AS seq, v.freq
          FROM v{r - 1} v LEFT JOIN m{r} m ON TRUE
        )"""
        )
    return ",\n    ".join(ctes)


def _bpe_steps_sql(k: int) -> str:
    steps = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS step, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, n_occurrences FROM m{r}"
        for r in range(1, k + 1)
    )
    return (
        f"WITH {_bpe_cte_body(k)}"
        f"\n    SELECT * FROM ({steps}) ORDER BY step"
    )


def _greedy_merge(col: str, l: str, r: str):
    """EXACT leftmost-greedy merge of pair (l, r) in a '|'-delimited
    symbol string, as three literal replaces: double every delimiter,
    replace '|l||r|' -> '|lr|' in one left-to-right pass, undouble.

    Why this is exact greedy: after doubling, every symbol boundary is
    '||', so a match must bridge one intact boundary; the scan
    consumes matches left to right and the replacement leaves single
    pipes that re-pair with the leftover flank pipes, so a token
    formed by a merge is never re-matched within the pass. For l == r
    runs this picks occurrences 1, 3, 5, ... of the run — the greedy
    picks — where the previous two-pass '|l|r|' replace diverged on
    runs of 5+ identical symbols (r11 code review; fuzz-verified
    against an index-scan reference in tests/test_r11_ops.py).
    """
    return F.replace(
        F.replace(
            F.replace(F.col(col) if isinstance(col, str) else col,
                      F.lit("|"), F.lit("||")),
            F.lit(f"|{l}||{r}|"),
            F.lit(f"|{l}{r}|"),
        ),
        F.lit("||"),
        F.lit("|"),
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str, snapshots: tuple[int, ...] = ()
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame, dict[int, DataFrame]]:
    """Run BPE_STEPS training rounds; return (merge table rows, final
    vocabulary frame (w, seq, freq), {k: vocabulary after k merges}
    for each requested snapshot k). Each round is a vocab-sized
    census plus one 1-ROW argmax collect (model state, the kmeans
    precedent) folded back as string literals, so the plan stays
    linear in rounds with no crossJoin branching. If the census runs
    dry before a requested snapshot, that snapshot is the final
    (unchanged) vocabulary — matching the oracle CTEs' LEFT JOIN
    convention."""
    vocab = session_cached(
        spark,
        frame_memo_tag(sf_dir, "bpe_seq_vocab"),
        lambda: fan_out(spark, load_table(spark, sf_dir, "documents"))
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where((F.col("w") != "") & (~F.col("w").contains("|")))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select("w", F.expr(_BPE_V0[th.SPARK]).alias("seq"), "freq"),
    )
    # the learned merge list is model state: memoize it per
    # (application, sf_dir) so the three BPE queries train ONCE —
    # replaying the merges is a lazy replace chain with zero
    # collects, where retraining pays BPE_STEPS argmax collects
    steps = session_memo(
        spark,
        ("bpe_merges", *model_memo_key(sf_dir, "documents")),
        lambda: _bpe_merges(vocab),
    )
    snaps: dict[int, DataFrame] = {}
    for step, l, r, _m, _n in steps:
        vocab = vocab.withColumn("seq", _greedy_merge("seq", l, r))
        if step in snapshots:
            snaps[step] = vocab
    for k in snapshots:  # census ran dry before k: vocab is final
        snaps.setdefault(k, vocab)
    return list(steps), vocab, snaps


def _bpe_merges(vocab: DataFrame) -> list[tuple[int, str, str, str, int]]:
    """Up to BPE_STEPS (step, left, right, merged, occurrences) merges
    learned from the initial vocabulary frame (w, seq, freq)."""
    steps: list[tuple[int, str, str, str, int]] = []
    for step in range(1, BPE_STEPS + 1):
        top = (
            vocab.select(
                "freq",
                F.split(F.expr("trim(BOTH '|' FROM seq)"), "[|]").alias(
                    "syms"
                ),
            )
            .where(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS l, "
                        "element_at(syms, i + 1) AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
            .orderBy(F.col("n_occurrences").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:  # corpus ran out of pairs: stop with completed steps
            break
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n_occurrences"])
        steps.append((step, l, r, l + r, n))
        vocab = vocab.withColumn("seq", _greedy_merge("seq", l, r))
    return steps


@query("bpe_merge_steps", oracle=_bpe_steps_sql(BPE_STEPS))
def bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE tokenizer training (Sennrich et al. 2016) — the
    step ``bpe_merge_candidates`` only previews: {BPE_STEPS} rounds of
    (corpus-weighted adjacent-pair census -> take the top pair -> merge
    it greedily left-to-right in every word), returning the learned
    merge table in order. This is the actual merge-list a BPE trainer
    emits, the missing tokenizer-training step of the corpus-prep
    story (VERDICT r10 next-round #6).

    Symbol sequences are '|'-delimited strings; one merge applies as
    THREE literal ``replace`` passes (double delimiters, replace
    '|l||r|' -> '|lr|', undouble — see ``_greedy_merge``), which is
    EXACT leftmost-greedy in both engines including l == r runs of
    any length. The merged pair itself rides the argmax row with
    (count DESC, l, r) tie-break, identical in both engines.

    Scale: the corpus contributes ONE word-frequency rollup (cached,
    corpus-size independent from then on — the same reason real BPE
    trainers operate on word-frequency tables); each round is a
    vocab-sized census (positions explode over |vocab| x avg word
    length rows) plus one 1-ROW collect (the argmax pair — model
    state, the kmeans precedent) folded back as string literals, so
    the plan stays linear in rounds with no crossJoin branching. At
    100 TB only v0's build touches the corpus."""
    steps, _, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        steps,
        "step bigint, left_sym string, right_sym string, "
        "merged string, n_occurrences bigint",
    ).orderBy("step")


bpe_merge_steps.__doc__ = bpe_merge_steps.__doc__.replace(
    "{BPE_STEPS}", str(BPE_STEPS)
)

_BPE_ENCODE_SQL = f"""
    WITH {_bpe_cte_body(BPE_STEPS)},
    wtoks AS (
      SELECT w,
             CAST(len(string_split(trim(seq, '|'), '|')) AS BIGINT)
                 AS n_syms,
             CAST(length(w) AS BIGINT) AS w_chars
      FROM v{BPE_STEPS}
    ), lw AS (
      SELECT lang, w, count(*) AS f FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> '' AND w NOT LIKE '%|%' GROUP BY lang, w
    )
    SELECT lang,
           CAST(SUM(f) AS BIGINT) AS n_words,
           CAST(SUM(f * w_chars) AS BIGINT) AS n_chars,
           CAST(SUM(f * n_syms) AS BIGINT) AS n_bpe_tokens,
           SUM(f * w_chars) / CAST(SUM(f * n_syms) AS DOUBLE)
               AS chars_per_token,
           SUM(f * n_syms) / CAST(SUM(f) AS DOUBLE) AS tokens_per_word
    FROM lw JOIN wtoks USING (w)
    GROUP BY lang ORDER BY lang
"""


@query("bpe_encode_stats", oracle=_BPE_ENCODE_SQL)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the learned tokenizer — the other half of the BPE
    story ``bpe_merge_steps`` trains: segment every corpus word with
    the final {BPE_STEPS}-merge vocabulary and report, per language,
    the corpus word/char/BPE-token counts plus compression
    (chars_per_token) and fertility (tokens_per_word) — the two
    numbers a tokenizer eval reports per language, and the standard
    way to detect a tokenizer that under-serves one language of a
    multilingual corpus.

    Scale: training is vocab-sized after one cached corpus rollup
    (see ``_bpe_train``); encoding joins the per-(lang, word)
    frequency rollup to the per-word segmentation — BOTH sides are
    vocabulary-sized, never corpus-sized (the corpus is touched once,
    by the frequency rollups), and the output is O(|langs|). Ratios
    are single double divisions of exact BIGINTs."""
    _, vocab, _ = _bpe_train(spark, sf_dir)
    wtoks = vocab.select(
        "w",
        F.size(F.split(F.expr("trim(BOTH '|' FROM seq)"), "[|]"))
        .cast("bigint")
        .alias("n_syms"),
        F.length("w").cast("bigint").alias("w_chars"),
    )
    lw = (
        fan_out(spark, load_table(spark, sf_dir, "documents"))
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
        .where((F.col("w") != "") & (~F.col("w").contains("|")))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("f"))
    )
    fw, fs = F.col("f") * F.col("w_chars"), F.col("f") * F.col("n_syms")
    return (
        lw.join(wtoks, "w")
        .groupBy("lang")
        .agg(
            F.sum("f").cast("bigint").alias("n_words"),
            F.sum(fw).cast("bigint").alias("n_chars"),
            F.sum(fs).cast("bigint").alias("n_bpe_tokens"),
            (F.sum(fw) / F.sum(fs).cast("double")).alias("chars_per_token"),
            (F.sum(fs) / F.sum("f").cast("double")).alias("tokens_per_word"),
        )
        .orderBy("lang")
    )


bpe_encode_stats.__doc__ = bpe_encode_stats.__doc__.replace(
    "{BPE_STEPS}", str(BPE_STEPS)
)


# Misra-Gries counter budget: any token with global share > 1/MG_COUNTERS
# is GUARANTEED to survive at least one partition's summary (pigeonhole:
# a globally phi-heavy token is locally phi-heavy somewhere, and MG(k)
# never evicts an item whose local count exceeds n_p/k).
MG_COUNTERS = 256


def _mg_candidates(frames):
    """Per-partition Misra-Gries summary over the token stream,
    batched: each Arrow batch is exact-counted with vectorized
    ``value_counts`` (itself a valid MG summary of the batch), then
    MERGED into the running state the standard mergeable-summaries
    way — add counters, and if more than k survive, subtract the
    (k+1)-th largest count from all and drop the non-positives.
    Merging preserves the superset guarantee (every token with global
    share > 1/k survives some chain of merges), and the r9 per-token
    Python loop (1.3 s single-task at sf0.1) becomes O(unique) C-side
    work per batch (~0.1 s).

    Emits one row per surviving counter (token, n=0) plus a single
    sentinel row (token=NULL, n=partition token count) so the global
    total comes out of the SAME scan.
    """
    import pandas as pd

    counters: dict[str, int] = {}
    n_part = 0
    for pdf in frames:
        vc = pdf["token"].value_counts()
        n_part += int(vc.sum())
        for tok, cnt in vc.items():
            counters[tok] = counters.get(tok, 0) + int(cnt)
        if len(counters) > MG_COUNTERS:
            cut = sorted(counters.values(), reverse=True)[MG_COUNTERS]
            counters = {
                t: c - cut for t, c in counters.items() if c > cut
            }
    yield pd.DataFrame(
        {
            "token": list(counters) + [None],
            "n": [0] * len(counters) + [n_part],
        }
    )


@query(
    "vocab_heavy_hitters",
    # The oracle is the naive exact form: full token counts filtered to
    # share > 1/MG_COUNTERS. The engine side reaches the SAME exact
    # answer without ever shuffling the vocabulary (MG candidates are a
    # proven superset; the exact-verify filter discards false positives).
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), t AS (
      SELECT token, count(*) AS n FROM tok WHERE token <> ''
      GROUP BY token
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM t
    )
    SELECT token, CAST(n AS BIGINT) AS n, total_tokens,
           n / CAST(total_tokens AS DOUBLE) AS share
    FROM t, tot
    WHERE n * {MG_COUNTERS} > total_tokens
    ORDER BY n DESC, token
    """,
)
def vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequency heavy hitters (share > 1/256) without a
    vocabulary shuffle: pass 1 runs Misra-Gries per partition (Arrow
    ``mapInPandas``, O(MG_COUNTERS) state) emitting candidate tokens +
    per-partition totals; pass 2 exact-counts ONLY the broadcast
    candidate set. Output is exact and partitioning-independent: MG
    guarantees candidates are a superset of every true heavy hitter,
    and the final filter uses exact counts.

    Scale: a direct groupBy(token) shuffles one row per distinct token
    per partition - at web scale the vocabulary tail (URLs, hashes,
    typos) dominates that shuffle. Here the shuffle carries at most
    MG_COUNTERS x n_partitions candidate rows; everything else stays
    map-side. Two scans total, the known lower bound for exact
    heavy hitters (candidate + verify)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    # the summary feeds two branches (candidates + totals); session-cache
    # the O(MG_COUNTERS x n_partitions) frame so the MG scan runs once
    summary = session_cached(
        spark,
        frame_memo_tag(sf_dir, "mg_summary"),
        lambda: tok.mapInPandas(_mg_candidates, "token string, n long"),
    )
    candidates = (
        summary.where(F.col("token").isNotNull()).select("token").distinct()
    )
    totals = summary.where(F.col("token").isNull()).agg(
        F.sum("n").cast("bigint").alias("total_tokens")
    )
    exact = (
        tok.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return (
        exact.crossJoin(F.broadcast(totals))
        .where(F.col("n") * MG_COUNTERS > F.col("total_tokens"))
        .select(
            "token",
            "n",
            "total_tokens",
            (F.col("n") / F.col("total_tokens").cast("double")).alias("share"),
        )
        .orderBy(F.col("n").desc(), "token")
    )


# --- PMI collocation mining ---------------------------------------------

PMI_MIN_SUPPORT = 3  # bigram corpus frequency floor
PMI_TOP_K = 50  # collocations reported

_PMI_ORACLE = f"""
    WITH toks AS (
      SELECT {th.tokens('text', th.DUCK)} AS ts FROM documents
    ), uni AS (
      SELECT unnest(ts) AS w FROM toks
    ), uc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_uni FROM uni
    ), bg AS (
      SELECT unnest({th.shingles('ts', 2, th.DUCK)}) AS b FROM toks
    ), bc AS (
      SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2,
             CAST(count(*) AS BIGINT) AS c12
      FROM bg GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_SUPPORT}
    )
    SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2, n_uni,
           (CAST(c12 AS DOUBLE) * CAST(n_uni AS DOUBLE))
             / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS pmi_lift
    FROM bc
    JOIN uc u1 ON bc.w1 = u1.w
    JOIN uc u2 ON bc.w2 = u2.w
    CROSS JOIN tot
    ORDER BY pmi_lift DESC, w1, w2 LIMIT {PMI_TOP_K}
    """


@query("docs_pmi_collocations", oracle=_PMI_ORACLE)
def docs_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP_K} collocations by pointwise mutual information —
    the word2phrase pass (Mikolov et al. 2013 §4) that finds token
    pairs gluing together far more often than their unigram rates
    predict, the standard phrase-vocabulary induction step before
    tokenizer training. Scored as the PMI LIFT c12*N/(c1*c2) — the
    exp() of PMI, identically ordered — because ln() is not bit-stable
    across engines (the tfidf_top_terms rule); counts stay exact
    integers and the score is one two-multiply/one-divide double
    expression shared verbatim with the oracle. Support floor
    {PMI_MIN_SUPPORT} kills the rare-pair PMI blowup (a pair seen once
    between two hapaxes scores astronomically).

    Scale: ONE corpus pass — each document emits unigrams and bigrams
    through a single explode, and one map-side-combined shuffle yields
    the vocab-bounded (kind, key) count table, which is session-cached
    so its three consumers never re-read the corpus. The enrichment
    joins key on the vocab-bounded unigram slice (AQE broadcasts it
    when it fits); the total-token scalar rides the same frame as a
    window total, no scalar cross join. Top-k is a global sort of the
    vocab^2-bounded scored frame with a deterministic (lift, w1, w2)
    tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    toks = fan_out(spark, docs).select(
        F.expr(th.tokens("text", th.SPARK)).alias("ts")
    )
    # ONE corpus pass: each document emits its unigrams and bigrams
    # through a single explode, and one map-side-combined shuffle
    # produces the (kind, key) count table — vocab-bounded, so it is
    # session-cached and the three consumers below (both unigram
    # probes + the bigram side) never re-read the corpus.
    emit = (
        "concat("
        "transform(ts, w -> struct('u' AS kind, w AS key)), "
        f"transform({th.shingles('ts', 2, th.SPARK)}, "
        "b -> struct('b' AS kind, b AS key)))"
    )
    counts = session_cached(
        spark,
        frame_memo_tag(sf_dir, "pmi_counts"),
        lambda: toks.select(F.explode(F.expr(emit)).alias("e"))
        .groupBy(F.col("e.kind").alias("kind"), F.col("e.key").alias("key"))
        .agg(F.count("*").cast("bigint").alias("c"))
        .coalesce(1),
    )
    # the corpus-total token count rides the vocab-bounded unigram
    # frame as an unpartitioned window total (no scalar cross join)
    uc = (
        counts.where(F.col("kind") == "u")
        .select(F.col("key").alias("w"), "c")
        .withColumn(
            "n_uni", F.sum("c").over(Window.partitionBy()).cast("bigint")
        )
    )
    bc = (
        counts.where(
            (F.col("kind") == "b") & (F.col("c") >= PMI_MIN_SUPPORT)
        )
        .select(
            F.element_at(F.split("key", " "), 1).alias("w1"),
            F.element_at(F.split("key", " "), 2).alias("w2"),
            F.col("c").alias("c12"),
        )
    )
    u1 = uc.select(
        F.col("w").alias("w1k"), F.col("c").alias("c1"), "n_uni"
    )
    u2 = uc.select(F.col("w").alias("w2k"), F.col("c").alias("c2"))
    return (
        bc.join(u1, F.col("w1") == F.col("w1k"))
        .join(u2, F.col("w2") == F.col("w2k"))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "c2",
            "n_uni",
            (
                (F.col("c12").cast("double") * F.col("n_uni").cast("double"))
                / (F.col("c1").cast("double") * F.col("c2").cast("double"))
            ).alias("pmi_lift"),
        )
        .orderBy(F.col("pmi_lift").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
    )


docs_pmi_collocations.__doc__ = (
    (docs_pmi_collocations.__doc__ or "")
    .replace("{PMI_TOP_K}", str(PMI_TOP_K))
    .replace("{PMI_MIN_SUPPORT}", str(PMI_MIN_SUPPORT))
)


# --- vocabulary coverage curve ---------------------------------------------

VOCAB_KS = (5, 10, 20, 30)  # vocabulary sizes audited


def _coverage_oracle() -> str:
    ks = ", ".join(str(k) for k in VOCAB_KS)
    return f"""
    WITH uc AS (
      SELECT unnest({th.tokens('text', th.DUCK)}) AS w FROM documents
    ), counts AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM uc GROUP BY w
    ), ranked AS (
      SELECT c,
             CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rk,
             CAST(SUM(c) OVER (ORDER BY c DESC, w
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(c) OVER () AS BIGINT) AS total,
             CAST(count(*) OVER () AS BIGINT) AS n_vocab
      FROM counts
    )
    SELECT CAST(k.k AS BIGINT) AS vocab_k,
           CAST(max(n_vocab) AS BIGINT) AS n_vocab,
           CAST(max(total) AS BIGINT) AS n_tokens,
           CAST(max(cum) AS BIGINT) AS covered_tokens,
           CAST(max(cum) AS DOUBLE)
             / CAST(max(total) AS DOUBLE) AS coverage
    FROM ranked CROSS JOIN (SELECT unnest([{ks}]) AS k) k
    WHERE rk <= k.k
    GROUP BY k.k ORDER BY vocab_k
    """


@query("vocab_coverage_curve", oracle=_coverage_oracle())
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocabulary size
    k, the share of all token OCCURRENCES covered by the k most
    frequent types (ties broken lexicographically, so the "vocabulary"
    is deterministic on both engines) — the curve a tokenizer budget
    is read off of, and the denominator of every OOV-rate target: a
    vocab of size k leaves 1-coverage(k) of the stream as unknowns.
    Complements ``vocab_top_tokens`` (the list) and
    ``vocab_heavy_hitters`` (the sketch) with the sizing curve.

    Scale: token counting is the vocab-bounded map-side-combined
    shuffle; ranking and cumulative shares are windows over the
    vocab-bounded count table; the k-grid fan-out joins {NK} literal
    rows. Raw text is scanned once."""
    docs = load_table(spark, sf_dir, "documents")
    uc = (
        fan_out(spark, docs)
        .select(F.explode(F.expr(th.tokens("text", th.SPARK))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    wo = Window.orderBy(F.col("c").desc(), "w")
    ranked = uc.select(
        "c",
        F.row_number().over(wo).cast("bigint").alias("rk"),
        F.sum("c")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("total"),
        F.count("*")
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n_vocab"),
    )
    ks = F.explode(
        F.array(*[F.lit(k) for k in VOCAB_KS])
    ).alias("vocab_k")
    grid = ranked.select("rk", "cum", "total", "n_vocab", ks).where(
        F.col("rk") <= F.col("vocab_k")
    )
    return (
        grid.groupBy(F.col("vocab_k").cast("bigint").alias("vocab_k"))
        .agg(
            F.max("n_vocab").cast("bigint").alias("n_vocab"),
            F.max("total").cast("bigint").alias("n_tokens"),
            F.max("cum").cast("bigint").alias("covered_tokens"),
            (
                F.max("cum").cast("double")
                / F.max("total").cast("double")
            ).alias("coverage"),
        )
        .orderBy("vocab_k")
    )


vocab_coverage_curve.__doc__ = (vocab_coverage_curve.__doc__ or "").replace(
    "{NK}", str(len(VOCAB_KS))
)


# --- code-switching profile -----------------------------------------


def _codeswitch_exprs(dialect: str) -> dict[str, str]:
    """Per-token language votes from the same marker trio the doc-level
    lang-ID uses, then sequence statistics over the voted tokens.
    All pure array expressions — one pass, no shuffle."""
    toks = th.tokens("text", dialect)
    # per-token vote: same argmax rule as _langid_exprs, at token level;
    # tokens with no marker abstain (NULL, filtered out)
    def cnt(marker: str) -> str:
        rep = f"replace(t, '{marker}', '')"
        return f"(length(t) - length({rep})) / {len(marker)}"

    c_th, c_er, c_an = cnt("th"), cnt("er"), cnt("an")
    vote = (
        f"CASE WHEN {c_th} = 0 AND {c_er} = 0 AND {c_an} = 0 THEN NULL "
        f"WHEN {c_th} >= {c_er} AND {c_th} >= {c_an} THEN 'en' "
        f"WHEN {c_er} >= {c_an} THEN 'de' ELSE 'es' END"
    )
    if dialect == th.SPARK:
        voted = f"filter(transform({toks}, t -> {vote}), v -> v IS NOT NULL)"
        n_lang = "size(filter(voted, v -> v = '{lang}'))"
        switches = (
            "CASE WHEN size(voted) < 2 THEN 0 ELSE "
            "aggregate(zip_with(slice(voted, 1, size(voted) - 1), "
            "slice(voted, 2, size(voted) - 1), "
            "(a, b) -> CASE WHEN a != b THEN 1 ELSE 0 END), "
            "0, (acc, x) -> acc + x) END"
        )
    else:
        voted = (
            f"list_filter(list_transform({toks}, t -> {vote}), "
            f"v -> v IS NOT NULL)"
        )
        n_lang = "len(list_filter(voted, v -> v = '{lang}'))"
        switches = (
            "CASE WHEN len(voted) < 2 THEN 0 ELSE "
            "CAST(list_sum(list_transform(range(2, len(voted) + 1), "
            "i -> CASE WHEN voted[i] != voted[i - 1] THEN 1 ELSE 0 END)) "
            "AS INT) END"
        )
    return {"voted": voted, "n_lang": n_lang, "switches": switches}


@query(
    "docs_codeswitch_profile",
    oracle=f"""
    WITH v AS (
      SELECT doc_id, lang, {_codeswitch_exprs(th.DUCK)['voted']} AS voted
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             CAST(len(voted) AS BIGINT) AS n_voted,
             CAST({_codeswitch_exprs(th.DUCK)['n_lang'].format(lang='en')}
                  AS BIGINT) AS n_en,
             CAST({_codeswitch_exprs(th.DUCK)['n_lang'].format(lang='de')}
                  AS BIGINT) AS n_de,
             CAST({_codeswitch_exprs(th.DUCK)['n_lang'].format(lang='es')}
                  AS BIGINT) AS n_es,
             CAST({_codeswitch_exprs(th.DUCK)['switches']} AS BIGINT)
                 AS n_switches
      FROM v
    )
    SELECT doc_id, lang, n_voted, n_switches,
           CASE WHEN n_voted = 0 THEN NULL
                WHEN n_en >= n_de AND n_en >= n_es THEN 'en'
                WHEN n_de >= n_es THEN 'de' ELSE 'es' END AS dominant_lang,
           CASE WHEN n_voted = 0 THEN NULL
                ELSE 1.0 - GREATEST(n_en, n_de, n_es)
                           / CAST(n_voted AS DOUBLE)
           END AS mixedness
    FROM scored ORDER BY doc_id
    """,
)
def docs_codeswitch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level code-switching profile: vote a language per token
    with the same marker trio the doc-level lang-ID uses (abstaining
    tokens drop out), then count vote SWITCHES along the token
    sequence and the share of votes outside the dominant language —
    the signal multilingual corpus builders use to separate genuinely
    code-mixed documents from mislabeled monolingual ones (doc-level
    lang-ID alone cannot tell them apart).

    Scale: every column is a per-row array expression over one token
    pass — no shuffle at all beyond the output sort; the vote, the
    adjacent-pair switch count (zip_with over two slices), and the
    per-language tallies all ride whole-stage codegen."""
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    ex = _codeswitch_exprs(th.SPARK)
    scored = docs.select(
        "doc_id",
        "lang",
        F.expr(ex["voted"]).alias("voted"),
    ).select(
        "doc_id",
        "lang",
        F.expr("CAST(size(voted) AS BIGINT)").alias("n_voted"),
        F.expr(f"CAST({ex['n_lang'].format(lang='en')} AS BIGINT)").alias(
            "n_en"
        ),
        F.expr(f"CAST({ex['n_lang'].format(lang='de')} AS BIGINT)").alias(
            "n_de"
        ),
        F.expr(f"CAST({ex['n_lang'].format(lang='es')} AS BIGINT)").alias(
            "n_es"
        ),
        F.expr(f"CAST({ex['switches']} AS BIGINT)").alias("n_switches"),
    )
    dominant = (
        F.when(F.col("n_voted") == 0, F.lit(None).cast("string"))
        .when(
            (F.col("n_en") >= F.col("n_de")) & (F.col("n_en") >= F.col("n_es")),
            "en",
        )
        .when(F.col("n_de") >= F.col("n_es"), "de")
        .otherwise("es")
    )
    mixedness = F.when(F.col("n_voted") == 0, F.lit(None).cast("double")).otherwise(
        1.0
        - F.greatest("n_en", "n_de", "n_es") / F.col("n_voted").cast("double")
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_voted",
        "n_switches",
        dominant.alias("dominant_lang"),
        mixedness.alias("mixedness"),
    ).orderBy("doc_id")


BPE_SWEEP_KS = (2, 4, 6, 8)

_BPE_SWEEP_SQL = (
    f"WITH {_bpe_cte_body(BPE_STEPS)}\n    "
    + "SELECT * FROM (\n      "
    + "\n      UNION ALL ".join(
        f"""SELECT CAST({k} AS BIGINT) AS n_merges,
             CAST(SUM(b.freq) AS BIGINT) AS n_words,
             CAST(SUM(b.freq * length(b.w)) AS BIGINT) AS n_chars,
             CAST(SUM(b.freq *
                  len(string_split(trim(v.seq, '|'), '|'))) AS BIGINT)
                 AS n_bpe_tokens,
             SUM(b.freq * length(b.w))
               / CAST(SUM(b.freq *
                      len(string_split(trim(v.seq, '|'), '|'))) AS DOUBLE)
                 AS chars_per_token
      FROM v0 b JOIN v{k} v USING (w)"""
        for k in BPE_SWEEP_KS
    )
    + "\n    ) ORDER BY n_merges"
)


@query("bpe_vocab_prune_sweep", oracle=_BPE_SWEEP_SQL)
def bpe_vocab_prune_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer size/compression tradeoff curve: encode the corpus
    with the vocabulary after k = {KS} BPE merges and report total
    BPE tokens and compression (chars per token) at each size — the
    curve a tokenizer team reads to pick a vocabulary budget (each
    extra merge buys less compression; the knee is the budget). The
    sweep half of the bpe_merge_steps / bpe_encode_stats story.

    Scale: one training run produces every snapshot (the k-merge
    vocabularies are prefixes of the same merge sequence — no
    retraining per point); all sweep arms are vocabulary-sized joins
    of (word, freq) against (word, segmentation), never corpus-sized,
    and the output is O(|sweep|) rows of exact BIGINTs with one final
    double division."""
    _, _, snaps = _bpe_train(spark, sf_dir, snapshots=BPE_SWEEP_KS)
    arms = []
    for k in BPE_SWEEP_KS:
        v = snaps[k].select(
            "freq",
            F.length("w").cast("bigint").alias("w_chars"),
            F.size(F.split(F.expr("trim(BOTH '|' FROM seq)"), "[|]"))
            .cast("bigint")
            .alias("n_syms"),
        )
        arms.append(
            v.agg(
                F.lit(k).cast("bigint").alias("n_merges"),
                F.sum("freq").cast("bigint").alias("n_words"),
                F.sum(F.col("freq") * F.col("w_chars"))
                .cast("bigint")
                .alias("n_chars"),
                F.sum(F.col("freq") * F.col("n_syms"))
                .cast("bigint")
                .alias("n_bpe_tokens"),
                (
                    F.sum(F.col("freq") * F.col("w_chars"))
                    / F.sum(F.col("freq") * F.col("n_syms")).cast("double")
                ).alias("chars_per_token"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("n_merges")


bpe_vocab_prune_sweep.__doc__ = bpe_vocab_prune_sweep.__doc__.replace(
    "{KS}", str(BPE_SWEEP_KS)
)
