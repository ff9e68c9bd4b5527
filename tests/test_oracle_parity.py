"""Replicates the driver's DuckDB-oracle gate at sf0.001 for every
registered query that declares an oracle: row count, column names and
order-insensitive value hash must all match."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tools.oracle_check import compare_query, duckdb_connection

QUERIES = entrymod.queries()
ORACLE = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_parity(name, spark, sf_dir, con):
    df = QUERIES[name](spark, sf_dir)
    result = compare_query(df, con, ORACLE[name])
    assert result["rows_match"], result
    assert result["cols_match"], result
    assert result["values_match"], {k: v for k, v in result.items() if k != "cols_spark"}
    assert result["types_safe"], result["unsafe_types"]


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_output_types_driver_safe(name, con):
    """Every oracle must emit only types the driver's renderer is
    trusted on (BIGINT/INTEGER/VARCHAR/DOUBLE) — e.g. DuckDB's
    SUM(BIGINT) returns HUGEINT, which the driver stringifies
    differently and hash-FAILs even when values are identical."""
    from tools.oracle_check import unsafe_oracle_types

    assert unsafe_oracle_types(con, ORACLE[name]) == []


def test_checked_window_contract():
    """The driver value-checks only the first 50 of ``queries()``.
    ``queries()`` is constructed FROM ``CHECKED_FIRST``, so comparing
    the two would be tautological (r5 ADVICE); assert the independent
    invariants instead: the window is 50 unique, registered,
    oracle-paired names; ``queries()`` loses no registered query while
    reordering; and the core operator families are represented. The
    window is frozen, so the family map names its members once and
    fails if a listed query or family leaves it."""
    window = entrymod.CHECKED_FIRST
    assert len(window) == len(set(window)) == 50
    missing = [n for n in window if n not in QUERIES]
    assert not missing, missing
    unoracled = [n for n in window if n not in ORACLE]
    assert not unoracled, unoracled
    # the driver-visible dict must cover the whole registry exactly
    from end2end_data_pipeline_spark.registry import QUERIES as RAW

    assert list(QUERIES)[: len(window)] == window
    assert set(QUERIES) == set(RAW)
    assert callable(entrymod.queries) and callable(entrymod.oracle_sql)
    families = {
        # the operator families the frozen window covers, one
        # representative query each
        "embedding_centroid_margin_profile": "r13 margin-profile rewrite",
        "embedding_pq_codebook": "PQ codebook (r14 shared encode)",
        "ann_ivf_cells": "IVF census (assignment argmax)",
        "ann_ivf_persisted_topk": "persisted-index ANN probe",
        "dedup_clusters": "connected-components dedup",
        "dedup_exact_stats": "exact dedup stats",
        "dedup_minhash_pairs": "MinHash-LSH candidate pairs",
        "incr_dedup_decisions": "incremental dedup store",
        "fk_orphan_audit": "FK integrity audit",
        "multimodal_decode_features": "multimodal Arrow boundary",
        "audio_pcm_parity": "ingest parity family",
        "warehouse_minute_dpp_extract": "DPP partitioned warehouse",
        "minute_counts_stream_replay": "streaming replay (counts)",
        "session_window_stream_replay": "streaming replay (session windows)",
        "sessions_markov_transitions": "Markov transition matrix",
        "text_quality_scores": "text quality gate",
        "props_k_extract": "semistructured extraction",
        "latest_event_per_user_maxby": "max_by latest-event",
        "first_seen_users_batch": "first-seen basis",
        "hourly_count_autocorr_24h": "autocorrelation analytics",
        "supplier_revenue_hhi_by_nation": "HHI concentration",
        "nation_supplier_revenue": "TPC-H-style multi-join",
        "acctbal_tiers": "tiering CASE rollup",
        "customers_without_orders": "anti-join family",
        "customers_above_avg_balance": "scalar-subquery filter",
        "q12_shipmode_priority_bucketed": "bucketed twin (Q12)",
        "q18_large_orders_bucketed": "bucketed twin (Q18)",
        "q4_order_priority_bucketed": "bucketed twin (Q4)",
        # cross-cutting families represented by name prefix
        "event_": "event analytics prefix",
        "events_": "event drift/changepoint prefix",
        "orders_": "orders analytics prefix",
        "lineitem_": "lineitem analytics prefix",
        "user_": "user-behavior prefix",
        "session_": "sessionization prefix",
        "embedding_": "embeddings-table prefix",
    }
    for prefix, family in families.items():
        assert any(n.startswith(prefix) for n in window), family


@pytest.mark.slow
def test_checked_window_parity_at_driver_sf(spark):
    """The driver's gate, replicated EXACTLY: the first 50 of
    ``queries()`` against their oracles at sf0.01 (the driver's scale
    factor, vs the sf0.001 the per-query parametrized tests use).
    Catches scale-dependent divergence — e.g. the r4 TIMESTAMP_NTZ
    breakage surfaced only on regenerated fixtures — one round early,
    on the exact query set the driver will hash."""
    sf = "/root/testdata/sf0.01"
    con = duckdb_connection(sf)
    try:
        bad = []
        for name in list(QUERIES)[:50]:
            r = compare_query(QUERIES[name](spark, sf), con, ORACLE[name])
            if not (
                r["rows_match"]
                and r["cols_match"]
                and r["values_match"]
                and r["types_safe"]
            ):
                bad.append((name, {k: r[k] for k in ("rows_match", "cols_match", "values_match", "types_safe")}))
        assert not bad, bad
    finally:
        con.close()


def test_every_query_runs(executed_plans):
    """Queries without an oracle still must resolve to an executable
    plan. Reads the session-shared plan build (r14): a successfully
    built executedPlan IS the schema-resolution proof the old
    per-query construction sweep asserted, at one build per session
    instead of three registry-wide sweeps."""
    plans, errors = executed_plans
    assert not errors, errors
    assert set(plans) == set(QUERIES)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns
