"""Pure-Python replays + invariants for the round-11 operators — the
third engine beside Spark and the DuckDB oracle (the dual-engine
blind-spot mitigation the r9/r10 waves established). Each replay
re-derives the semantics from the written spec with hashlib / plain
dicts: no texthash builders, no SQL, no engine helpers."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

MINHASH_P = 1_073_741_789
BASE_MOD = 1 << 30
SHINGLE_N = 3


def _md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _docs(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "source", "lang", "text")
        .collect()
    )


def _doc_shingles(text: str) -> set[int]:
    toks = text.split(" ")
    th = [_md5_int(t) % BASE_MOD for t in toks]
    cs = [_md5_int(f"shingle_c_{k}") % BASE_MOD for k in range(SHINGLE_N)]
    return {
        sum(c * th[i + k] for k, c in enumerate(cs)) % MINHASH_P
        for i in range(len(th) - SHINGLE_N + 1)
    }


def test_source_shingle_overlap_replay(spark):
    rows = entrymod.queries()["source_shingle_overlap_matrix"](
        spark, SF
    ).collect()
    per_source: dict[str, set[int]] = defaultdict(set)
    for r in _docs(spark):
        if len(r["text"].split(" ")) >= SHINGLE_N:
            per_source[r["source"]] |= _doc_shingles(r["text"])
    expected = {}
    srcs = sorted(per_source)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            shared = len(per_source[a] & per_source[b])
            if shared:
                expected[(a, b)] = (shared, len(per_source[a]), len(per_source[b]))
    got = {(r["src_a"], r["src_b"]): (r["n_shared"], r["n_a"], r["n_b"]) for r in rows}
    assert got == expected
    for r in rows:
        assert 0 < r["jaccard"] <= r["containment"] <= 1.0


def test_source_ablation_replay(spark):
    rows = entrymod.queries()["source_ablation_deltas"](spark, SF).collect()
    docs = _docs(spark)
    tok = {r["doc_id"]: len(r["text"].split(" ")) for r in docs}
    t_docs, t_tokens = len(docs), sum(tok.values())
    by_src = defaultdict(lambda: [0, 0])
    lang_tokens: Counter = Counter()
    sl_tokens: Counter = Counter()
    for r in docs:
        by_src[r["source"]][0] += 1
        by_src[r["source"]][1] += tok[r["doc_id"]]
        lang_tokens[r["lang"]] += tok[r["doc_id"]]
        sl_tokens[(r["source"], r["lang"])] += tok[r["doc_id"]]
    assert len(rows) == len(by_src)
    for r in rows:
        s_docs, s_tokens = by_src[r["source"]]
        assert r["n_docs_wo"] == t_docs - s_docs
        assert r["n_tokens_wo"] == t_tokens - s_tokens
        assert r["token_share"] == s_tokens / t_tokens
        # dominant language of the remaining corpus, ties by lang DESC
        wo = {
            lang: n - sl_tokens.get((r["source"], lang), 0)
            for lang, n in lang_tokens.items()
        }
        best = max(wo.items(), key=lambda kv: (kv[1], kv[0]))
        assert r["dominant_lang_wo"] == best[0]
        assert r["dom_lang_share_wo"] == best[1] / (t_tokens - s_tokens)


def test_training_order_runs_replay(spark):
    from end2end_data_pipeline_spark.operators.corpus_ops import (
        _SHUFFLE_BUCKET_DIV,
        SHUFFLE_SEED,
    )

    rows = entrymod.queries()["training_order_runs_audit"](spark, SF).collect()
    ordered = sorted(
        (
            (_md5_int(f"{SHUFFLE_SEED}:{r['doc_id']}"), r["doc_id"], r["source"])
            for r in _docs(spark)
        ),
    )
    runs: dict[str, list[int]] = defaultdict(list)
    prev_key = None
    for h, doc_id, source in ordered:
        bucket = h // _SHUFFLE_BUCKET_DIV
        if prev_key == (bucket, source):
            runs[source][-1] += 1
        else:
            runs[source].append(1)
        prev_key = (bucket, source)
    got = {r["source"]: r for r in rows}
    assert set(got) == set(runs)
    for source, lens in runs.items():
        r = got[source]
        assert r["n_docs"] == sum(lens)
        assert r["n_runs"] == len(lens)
        assert r["max_run"] == max(lens)
        assert r["mean_run"] == sum(lens) / len(lens)


def test_length_bucket_batch_replay(spark):
    from end2end_data_pipeline_spark.operators.corpus_ops import (
        BATCH_SHARDS,
        BATCH_SIZE,
        LEN_BUCKET_W,
    )

    rows = {r["strategy"]: r for r in
            entrymod.queries()["length_bucket_batch_plan"](spark, SF).collect()}
    sized = sorted(
        (r["doc_id"] % BATCH_SHARDS, r["doc_id"], len(r["text"].split(" ")))
        for r in _docs(spark)
    )

    def audit(key_of):
        batches: dict[tuple, list[int]] = defaultdict(list)
        counters: Counter = Counter()
        for shard, doc_id, n in sized:
            k = key_of(shard, n)
            batches[(k, counters[k] // BATCH_SIZE)].append(n)
            counters[k] += 1
        real = sum(sum(b) for b in batches.values())
        slots = sum(len(b) * max(b) for b in batches.values())
        return len(batches), real, slots - real

    for strategy, key_of in [
        ("naive", lambda shard, n: (shard,)),
        ("length_bucketed", lambda shard, n: (shard, n // LEN_BUCKET_W)),
    ]:
        n_batches, real, padded = audit(key_of)
        r = rows[strategy]
        assert (r["n_batches"], r["real_tokens"], r["padded_slots"]) == (
            n_batches,
            real,
            padded,
        )
        assert r["waste_ratio"] == padded / (real + padded)
    # the whole point: bucketing must not pad MORE than naive batching
    assert (
        rows["length_bucketed"]["padded_slots"] <= rows["naive"]["padded_slots"]
    )


def test_curriculum_phase_replay(spark):
    from end2end_data_pipeline_spark.operators.corpus_ops import CURRICULUM_CUTS
    from end2end_data_pipeline_spark.operators.text_analysis import STOPWORDS

    rows = entrymod.queries()["curriculum_phase_plan"](spark, SF).collect()
    per = defaultdict(lambda: [0, 0, set(), set()])
    for r in _docs(spark):
        toks = r["text"].split(" ")
        permille = sum(t in STOPWORDS for t in toks) * 1000 // len(toks)
        phase = sum(permille >= c for c in CURRICULUM_CUTS)
        p = per[phase]
        p[0] += 1
        p[1] += len(toks)
        p[2].add(r["source"])
        p[3].add(r["lang"])
    total = sum(p[1] for p in per.values())
    cum = 0
    assert [r["phase"] for r in rows] == sorted(per)
    for r in rows:
        n_docs, n_tokens, sources, langs = per[r["phase"]]
        cum += n_tokens
        assert (r["n_docs"], r["n_tokens"]) == (n_docs, n_tokens)
        assert (r["n_sources"], r["n_langs"]) == (len(sources), len(langs))
        assert r["token_share"] == n_tokens / total
        assert r["cum_tokens"] == cum


def test_overlap_matrix_empty_and_single_source(spark, tmp_path):
    """Degenerate fixtures: a one-source corpus yields an empty
    matrix; a two-source corpus with one shared document text yields
    exactly one row with containment 1 for the subset source."""
    import pandas as pd

    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["x y z w", "x y z w", "p q r s"],
            "lang": ["en"] * 3,
            "source": ["a", "a", "b"],
            "n_chars": [7, 7, 7],
        }
    ).to_parquet(d / "documents.parquet")
    fn = entrymod.queries()["source_shingle_overlap_matrix"]
    rows = fn(spark, str(d)).collect()
    assert rows == []

    d2 = tmp_path / "sf2"
    d2.mkdir()
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["x y z w", "x y z w v"],
            "lang": ["en"] * 2,
            "source": ["a", "b"],
            "n_chars": [7, 9],
        }
    ).to_parquet(d2 / "documents.parquet")
    rows = fn(spark, str(d2)).collect()
    assert len(rows) == 1
    r = rows[0]
    # source a's 2 shingles are a subset of b's 3
    assert (r["src_a"], r["src_b"], r["n_shared"], r["n_a"], r["n_b"]) == (
        "a",
        "b",
        2,
        2,
        3,
    )
    assert r["containment"] == 1.0


def test_source_shingle_kmv_replay(spark):
    from end2end_data_pipeline_spark.operators.dedup import KMV_K

    rows = entrymod.queries()["source_shingle_overlap_kmv"](spark, SF).collect()
    per_source: dict[str, set[int]] = defaultdict(set)
    for r in _docs(spark):
        if len(r["text"].split(" ")) >= SHINGLE_N:
            per_source[r["source"]] |= _doc_shingles(r["text"])
    domain = float(MINHASH_P)
    srcs = sorted(per_source)
    expected = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            sa = sorted(per_source[a])[:KMV_K]
            sb = sorted(per_source[b])[:KMV_K]
            merged = sorted(set(sa) | set(sb))
            u = merged[: min(len(merged), KMV_K)]
            if len(merged) < KMV_K:
                est_union = float(len(merged))
            else:
                est_union = (KMV_K - 1) * domain / float(u[KMV_K - 1])
            inter_in_u = sum(1 for x in u if x in set(sa) and x in set(sb))
            expected[(a, b)] = (
                len(per_source[a]),
                len(per_source[b]),
                len(per_source[a] & per_source[b]),
                est_union,
                (inter_in_u * est_union) / len(u),
            )
    got = {
        (r["src_a"], r["src_b"]): (
            r["exact_a"],
            r["exact_b"],
            r["exact_inter"],
            r["est_union"],
            r["est_inter"],
        )
        for r in rows
    }
    assert got == expected


def _bpe_train_pure(word_freq, steps):
    """From-spec BPE trainer: greedy left-to-right merge by index scan
    (no string replace), snapshots after each merge round."""
    vocab = {w: list(w) for w in word_freq}
    snaps = {}
    for step in range(1, steps + 1):
        census = Counter()
        for w, syms in vocab.items():
            f = word_freq[w]
            for a, b in zip(syms, syms[1:]):
                census[(a, b)] += f
        if not census:
            break
        (l, r), _ = min(
            census.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
        snaps[step] = {w: list(s) for w, s in vocab.items()}
    final = {w: list(s) for w, s in vocab.items()}
    for k in range(1, steps + 1):
        snaps.setdefault(k, final)
    return snaps


def test_bpe_vocab_prune_sweep_replay(spark):
    from end2end_data_pipeline_spark.operators.text_analysis import (
        BPE_STEPS,
        BPE_SWEEP_KS,
    )

    rows = entrymod.queries()["bpe_vocab_prune_sweep"](spark, SF).collect()
    word_freq = Counter()
    for r in _docs(spark):
        for w in r["text"].split(" "):
            if w and "|" not in w:
                word_freq[w] += 1
    snaps = _bpe_train_pure(word_freq, BPE_STEPS)
    got = {r["n_merges"]: r for r in rows}
    assert sorted(got) == sorted(BPE_SWEEP_KS)
    for k in BPE_SWEEP_KS:
        vocab = snaps[k]
        n_words = sum(word_freq.values())
        n_chars = sum(f * len(w) for w, f in word_freq.items())
        n_tokens = sum(f * len(vocab[w]) for w, f in word_freq.items())
        r = got[k]
        assert (r["n_words"], r["n_chars"], r["n_bpe_tokens"]) == (
            n_words,
            n_chars,
            n_tokens,
        )
        assert r["chars_per_token"] == n_chars / n_tokens
    # compression must improve monotonically with vocabulary size
    cs = [got[k]["n_bpe_tokens"] for k in sorted(got)]
    assert cs == sorted(cs, reverse=True)


def test_kmeans_silhouette_invariants(spark):
    rows = entrymod.queries()["kmeans_silhouette_profile"](spark, SF).collect()
    profile = {
        r["cluster"]: r["n_vectors"]
        for r in entrymod.queries()["kmeans_cluster_profile"](
            spark, SF
        ).collect()
    }
    assert {r["cluster"] for r in rows} == set(profile)
    for r in rows:
        assert r["n_vectors"] == profile[r["cluster"]]
        assert r["n_tight"] + r["n_mid"] + r["n_loose"] == r["n_vectors"]
        # a2 is the argmin distance, so a2 <= b2 per point and pooled
        # silhouette lands in [0, 1]
        assert r["sum_a2"] <= r["sum_b2"]
        assert 0.0 <= r["pooled_silhouette"] <= 1.0
        assert r["pooled_silhouette"] == 1.0 - r["sum_a2"] / r["sum_b2"]


def test_sketch_stream_replay_equals_batch(spark):
    """The replay's whole claim: arrival-time sketch maintenance over
    an arbitrary 3-way split merges to EXACTLY the batch sketch's
    estimates — and the drain really ran multiple micro-batches."""
    from end2end_data_pipeline_spark.sources import tables

    stream_rows = sorted(
        tuple(r)
        for r in entrymod.queries()["source_sketch_stream_replay"](
            spark, SF
        ).collect()
    )
    batch_rows = sorted(
        (r["src_a"], r["src_b"], r["est_union"], r["est_inter"])
        for r in entrymod.queries()["source_shingle_overlap_kmv"](
            spark, SF
        ).collect()
    )
    assert stream_rows == batch_rows
    # 3 split files with maxFilesPerTrigger=1 -> final state is batch 2
    state_paths = [
        p
        for k, p in tables._app_state(spark).entries.items()
        if k[0] == "source_sketch_stream_replay" and k[1].endswith("sf0.001")
    ]
    assert state_paths and all(p.endswith("state_2") for p in state_paths)
    # the drained state lives under the application's scratch root
    root = tables.session_scratch(spark, "")
    assert all(p.startswith(root) for p in state_paths)


def test_tpch_partsupp_invariants(spark):
    """Invariants of the derived-partsupp TPC-H family beyond the
    hash oracle: the derivation is keyed by trading pairs, Q2 rows
    really are per-part minima, Q11's survivors all clear the exact
    fraction, and Q9 covers every nation that supplied widget parts."""
    from end2end_data_pipeline_spark.operators.tpch_partsupp import (
        _partsupp,
        _Q11_FRACTION_DEN,
    )

    ps = _partsupp(spark, SF)
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    n_pairs = li.select("l_partkey", "l_suppkey").distinct().count()
    assert ps.count() == n_pairs
    r = ps.agg(
        {"ps_supplycost_cents": "min", "ps_availqty": "max"}
    ).collect()[0]
    assert r["min(ps_supplycost_cents)"] >= 100
    assert r["max(ps_availqty)"] <= 50

    q2 = entrymod.queries()["q2_min_cost_supplier"](spark, SF).collect()
    by_part = defaultdict(list)
    for row in q2:
        by_part[row["p_partkey"]].append(row["supplycost_cents"])
    for costs in by_part.values():
        assert len(set(costs)) == 1  # ties only at the minimum

    q11 = entrymod.queries()["q11_important_stock"](spark, SF).collect()
    # recompute the nation's FULL inventory total from the operator's
    # own inputs and check every survivor clears the exact fraction
    from end2end_data_pipeline_spark.operators.tpch_partsupp import (
        _Q11_NATION,
    )
    from pyspark.sql import functions as SF_

    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    nat = spark.read.parquet(f"{SF}/nation.parquet").where(
        SF_.col("n_name") == _Q11_NATION
    )
    total = (
        ps.join(sup, ps.ps_suppkey == sup.s_suppkey)
        .join(nat, SF_.col("s_nationkey") == SF_.col("n_nationkey"))
        .agg(
            SF_.sum(
                SF_.col("ps_supplycost_cents") * SF_.col("ps_availqty")
            ).alias("t")
        )
        .collect()[0]["t"]
    )
    assert q11, "q11 empty at sf0.001"
    for r in q11:
        assert r["value_cents"] * _Q11_FRACTION_DEN > total
    q9 = entrymod.queries()["q9_product_type_profit"](spark, SF).collect()
    assert q9, "q9 empty at sf0.001"
    years = {r["o_year"] for r in q9}
    assert all(1995 <= y <= 2001 for y in years)


def test_dim_truncation_recall_invariants(spark):
    """Recall must be monotone in the dimension budget, the full-dim
    row is the definitional 1.0 anchor, and the truncated top-k sets
    really are subsets of the pairs the full ranking considered."""
    rows = entrymod.queries()["ann_dim_truncation_recall"](
        spark, SF
    ).collect()
    from end2end_data_pipeline_spark.operators.similarity import (
        MRL_DIMS,
        TOP_K,
    )

    assert [r["dim_budget"] for r in rows] == sorted(MRL_DIMS)
    recalls = [r["recall_at_k"] for r in rows]
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0
    for r in rows:
        assert r["n_hits"] <= r["n_queries"] * TOP_K
        assert r["recall_at_k"] == r["n_hits"] / (r["n_queries"] * TOP_K)


def test_bpe_greedy_merge_exact_on_identical_runs(spark, tmp_path):
    """The r11 code-review finding: the old two-pass '|l|r|' replace
    diverged from leftmost-greedy on runs of 5+ identical symbols
    (l == r). The triple-replace merge must match the index-scan
    greedy reference on an adversarial fixture full of such runs,
    through the REAL engine."""
    import pandas as pd

    from end2end_data_pipeline_spark.operators.text_analysis import (
        BPE_STEPS,
    )

    words = ["aaaaaa", "aaaaa", "aaaaaaa", "aab", "baaaa", "ababab"]
    texts = [" ".join(words)] * 3 + ["aaaaaa aaaaaa b"]
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(d / "documents.parquet")
    rows = entrymod.queries()["bpe_merge_steps"](spark, str(d)).collect()
    word_freq = Counter()
    for t in texts:
        for w in t.split(" "):
            word_freq[w] += 1
    # reuse the from-spec pure trainer (index-scan greedy) and also
    # re-derive its merge table for comparison
    vocab = {w: list(w) for w in word_freq}
    expected = []
    for step in range(1, BPE_STEPS + 1):
        census = Counter()
        for w, syms in vocab.items():
            f = word_freq[w]
            for a, b in zip(syms, syms[1:]):
                census[(a, b)] += f
        if not census:
            break
        (l, r), n = min(
            census.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((step, l, r, l + r, census[(l, r)]))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["merged"], r["n_occurrences"])
        for r in rows
    ]
    assert got == expected


def test_silhouette_single_vector_fixture(spark, tmp_path):
    """K < 2 centroids (r11 code review): a one-embedding corpus has
    no 'nearest other centroid', so the profile must return the empty
    frame (matching the oracle's empty rn=2 join) instead of erroring
    on element_at(sorted_d, 2)."""
    import pandas as pd

    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        {
            "vec_id": [0],
            "embedding": [[0.1] * 64],
            "label": [1],
        }
    ).to_parquet(d / "embeddings.parquet")
    rows = entrymod.queries()["kmeans_silhouette_profile"](
        spark, str(d)
    ).collect()
    assert rows == []


def test_budget_apportionment_replay(spark):
    """From-spec Hamilton apportionment replay (both arms) + the
    operator's defining invariant: each column sums EXACTLY to the
    budget."""
    import math

    from end2end_data_pipeline_spark.operators.corpus_ops import (
        APPORTION_BUDGET as B,
    )

    rows = entrymod.queries()["source_budget_apportionment"](
        spark, SF
    ).collect()
    tokens = Counter()
    for r in _docs(spark):
        tokens[r["source"]] += len(r["text"].split(" "))
    total = sum(tokens.values())
    srcs = sorted(tokens)

    # proportional arm: exact integer quotas
    floor_p = {s: (B * tokens[s]) // total for s in srcs}
    rem_p = {s: (B * tokens[s]) % total for s in srcs}
    extra = B - sum(floor_p.values())
    for s in sorted(srcs, key=lambda s: (-rem_p[s], s))[:extra]:
        floor_p[s] += 1

    # temperature arm: sqrt weights over the sorted-fold normalizer
    z = 0.0
    for v in sorted(math.sqrt(tokens[s]) for s in srcs):
        z += v
    quota = {s: B * (math.sqrt(tokens[s]) / z) for s in srcs}
    floor_t = {s: int(math.floor(quota[s])) for s in srcs}
    frac = {s: quota[s] - math.floor(quota[s]) for s in srcs}
    extra_t = B - sum(floor_t.values())
    for s in sorted(srcs, key=lambda s: (-frac[s], s))[:extra_t]:
        floor_t[s] += 1

    got = {r["source"]: r for r in rows}
    assert set(got) == set(srcs)
    for s in srcs:
        assert got[s]["alloc_proportional"] == floor_p[s], s
        assert got[s]["alloc_temperature"] == floor_t[s], s
    assert sum(r["alloc_proportional"] for r in rows) == B
    assert sum(r["alloc_temperature"] for r in rows) == B
