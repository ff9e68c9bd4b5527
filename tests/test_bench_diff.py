"""``tools/bench_diff.py``: per-query fingerprint and wall diffs
between two bench records, and the engine-drift verdict."""

from __future__ import annotations


def test_bench_diff_flags_fingerprint_changes():
    from tools.bench_diff import diff

    old = {
        "value": 50.0,
        "carried_subtotal": 30.0,
        "n_queries": 3,
        "queries": {"a": 1.0, "b": 2.0},
        "tasks": {"a": 10, "b": 20},
    }
    same = dict(old, value=55.0, queries={"a": 1.2, "b": 2.1, "c": 9.0},
                tasks={"a": 10, "b": 20, "c": 7}, n_queries=4)
    d = diff(old, same)
    assert not d["plan_regression"]
    assert d["new_queries"] == ["c"]
    assert d["wall_delta_by_query"] == {"a": 0.2, "b": 0.1}

    changed = dict(old, tasks={"a": 10, "b": 33})
    d2 = diff(old, changed)
    assert d2["plan_regression"] and d2["fingerprint_changes"] == {"b": (20, 33)}


def test_bench_diff_drift_attribution():
    """The engine-drift verdict comes from the MEDIAN per-query min
    ratio cross-checked against the canary (machine CPU yardstick):
    walls tracking the canary are machine drift, walls flat despite a
    canary move are engine-flat, and a direction disagreement is
    flagged ambiguous rather than over-claimed (the r13 cross-host
    datapoint: canary 1.8x faster, median walls 1.008)."""
    from tools.bench_diff import diff

    def rec(qmin, canary):
        return {
            "queries": dict(qmin),
            "tasks": {q: 10 for q in qmin},
            "queries_min": dict(qmin),
            "carried_subtotal_min": round(sum(qmin.values()), 3),
            "env": {"canary_sec": canary},
        }

    base = {"a": 1.0, "b": 2.0, "c": 4.0}
    old = rec(base, 0.4)

    # machine 1.5x slower, every wall 1.5x slower: tracks machine
    d = diff(old, rec({q: w * 1.5 for q, w in base.items()}, 0.6))
    assert d["canary_ratio"] == 1.5
    assert d["median_min_ratio"] == 1.5
    assert d["median_min_ratio_normalized"] == 1.0
    assert d["engine_drift"] == "flat (tracks machine)"

    # same machine, walls 1.5x slower: engine regression
    d2 = diff(old, rec({q: w * 1.5 for q, w in base.items()}, 0.4))
    assert d2["engine_drift"] == "slower"

    # walls flat despite a much faster canary: engine flat (the r13
    # host-change shape) — NOT "slower" as naive canary division says
    d3 = diff(old, rec(base, 0.22))
    assert d3["median_min_ratio"] == 1.0
    assert d3["engine_drift"] == "flat"

    # canary faster but walls 1.3x slower: direction disagreement
    d4 = diff(old, rec({q: w * 1.3 for q, w in base.items()}, 0.22))
    assert d4["engine_drift"] == "ambiguous-host-change"

    # records without queries_min/canary (r12-) degrade gracefully
    d5 = diff({"queries": {}, "tasks": {}}, old)
    assert "engine_drift" not in d5 and "median_min_ratio" not in d5


def test_bench_diff_on_committed_records():
    """The committed r6 record vs the full-run record must diff cleanly
    (same pinned fingerprints for shared queries)."""
    import json

    from tools.bench_diff import diff

    with open("BENCH_r06.json") as f:
        r6 = json.load(f).get("parsed", json.load(open("BENCH_r06.json")))
    with open("BENCH_FULL.json") as f:
        full = json.load(f)
    if "queries" not in r6:
        import pytest

        pytest.skip("r6 record lacks per-query timings")
    d = diff(r6, full)
    # explicit waivers, each verified by hand against the executed
    # plan before being added (tools/bench_diff.py contract: a
    # fingerprint change must be explained, not suppressed):
    # - fk_orphan_audit 59 -> 53 (r13): structure unchanged — still 7
    #   BroadcastHashJoin arms, 0 SortMergeJoin, same Exchange count;
    #   the delta is AQE scan/coalesce task jitter that flipped when
    #   the r13 pin landed on an idle window (both r13 runs agree on
    #   53; data unmodified since r11). Documented in PERF_NOTES.md.
    waived = {
        "fk_orphan_audit": {(59, 53)},
        # part_copurchase_lift 71 -> 551 (r13 code, verified r14): the
        # r13 `_copurchase_op` session cache moved the shared distinct-
        # incidence build INTO lift's first execution (the fingerprint
        # is first-exec-only), and the cached stats made the planner
        # broadcast the incidence for the pair self-join — reproduced
        # identically on two independent 12 g runs, so NOT the 8 g
        # eviction artifact the r13 pin was suspected of. 71 -> 269 is
        # the r14 family re-shape (shared checkpointed pair list,
        # merge-hinted self-join — plans/r14/part_copurchase_lift_*).
        # 71 -> 341 is the SAME r14 shape measured by the full bench:
        # lift's first execution runs the one-time family build (the
        # incidence cache + checkpointed pair list shared by 6
        # queries), and that build's task total depends on session
        # state at that point of the run — reproduced 2026-08-18:
        # cold session 576 tasks (build counted from construction),
        # mid-bench 341, and 269 when construction precedes the job
        # group (tools/profile_query.py orders it that way). The
        # executed plan is identical in all three (isolated profile:
        # 16 Exchange / 4 BHJ / 0 SMJ, min 1.64 s) and the oracle is
        # strict-green; only WHERE the shared build's stages land
        # differs.
        "part_copurchase_lift": {(71, 551), (71, 269), (71, 341), (71, 576)},
        # dedup_simhash_signatures 138 -> 296 (r14 continuation): the
        # query now reads through the shared `simhash_sigs` session
        # cache instead of recomputing the 64-vote aggregation per
        # execution, so its FIRST execution builds the cache (the
        # extra tasks) and every later execution — and its sibling
        # dedup_simhash_pairs — reads the InMemoryRelation. Warm min
        # dropped ~1.16 -> ~1.0 s and the pairs query skips its own
        # build; oracle strict-green.
        "dedup_simhash_signatures": {(138, 296)},
    }
    unexplained = {
        q: ab
        for q, ab in d["fingerprint_changes"].items()
        if ab not in waived.get(q, set())
    }
    assert not unexplained, unexplained
