"""The A/B verdict of ``tools/ab_pairs.py`` (no Spark): a gain needs
wins in 9/10 of the pairs AND a median gap wider than the parent's
IQR, with no more failed operations than the parent; otherwise the
bound decides between not worse and worse, and a spread wider than
the bound leaves the metric unresolved."""

from __future__ import annotations

import pytest

from tools.ab_pairs import (
    QUIET_STEAL_TICKS,
    drain_summary,
    drained_early,
    parse_seeds,
    quartiles,
    quiet_pairs,
    report,
    run_line,
    steal_ticks,
    verdict,
    win_share,
)

PARENT = [1.80, 1.82, 1.85, 1.78, 1.90, 1.83, 1.79, 1.88, 1.81, 1.86]


def test_gain_needs_nine_of_ten_wins_and_gap_beyond_parent_iqr():
    change = [v - 0.7 for v in PARENT]
    assert verdict(PARENT, change, "lower", 0.25) == "gain"
    # the same runs read as a gain on a higher-is-better metric
    assert verdict([1 / v for v in PARENT], [1 / v for v in change], "higher", 0.25) == "gain"
    # two lost pairs out of ten: 8/10 wins is not a gain, however large the gap
    lost_two = change[:8] + [PARENT[8] + 0.1, PARENT[9] + 0.1]
    assert win_share(PARENT, lost_two, "lower") == 0.8
    assert verdict(PARENT, lost_two, "lower", 0.25) == "not worse"


def test_no_gain_when_the_change_fails_more_ops():
    change = [v - 0.7 for v in PARENT]
    assert verdict(PARENT, change, "lower", 0.25, failed=(2, 2)) == "gain"
    assert verdict(PARENT, change, "lower", 0.25, failed=(0, 1)) == "not worse"


def test_gap_inside_parent_iqr_is_not_a_gain():
    q1, _, q3 = quartiles(PARENT)
    change = [v - (q3 - q1) / 2 for v in PARENT]  # wins every pair, small gap
    assert win_share(PARENT, change, "lower") == 1.0
    assert verdict(PARENT, change, "lower", 0.25) == "not worse"


def test_ties_count_for_neither_side():
    change = [v - 0.7 for v in PARENT[:8]] + PARENT[8:]
    assert win_share(PARENT, change, "lower") == 0.8
    assert verdict(PARENT, change, "lower", 0.25) == "not worse"


def test_worse_beyond_bound_and_unresolved_spread():
    assert verdict(PARENT, [v * 1.2 for v in PARENT], "lower", 0.25) == "not worse"
    assert verdict(PARENT, [v * 1.4 for v in PARENT], "lower", 0.25) == "worse"
    assert verdict(PARENT, [v * 0.7 for v in PARENT], "higher", 0.25) == "worse"
    wide = [0.5, 3.0, 1.0, 2.5, 0.8, 2.8, 1.2, 0.6, 2.9, 1.1]
    assert verdict(PARENT, wide, "lower", 0.25) == "unresolved"


def test_change_better_in_every_run_is_not_worse_despite_spread():
    wide_parent = [2.0, 4.0, 2.2, 3.9, 2.1, 3.8, 2.3, 4.1, 2.4, 3.7]
    change = [1.9, 1.5, 1.4, 1.95, 1.3, 1.85, 1.6, 1.7, 1.2, 1.0]
    # wins every pair, but the gap (~1.5) is inside the parent's IQR
    assert verdict(wide_parent, change, "lower", 0.25) == "not worse"


def test_verdict_rejects_unpaired_runs():
    with pytest.raises(ValueError):
        verdict(PARENT, PARENT[:5], "lower", 0.25)


def test_parse_seeds():
    assert parse_seeds("11-14,20") == [11, 12, 13, 14, 20]


PROC_STAT = """cpu  4538612 0 325396 5821657 4982 0 88808 418309 0 0
cpu0 1134653 0 81349 1455414 1245 0 22202 104577 0 0
intr 123456 0 0
"""


def _run(measured_s: float, ops: int, steal: int, p50: float = 0.8) -> dict:
    return {
        "correct": True,
        "failed": 0,
        "metrics": {"op_latency_p50_s": {"value": p50, "unit": "s"}},
        "notes": {"ops": ops, "measured_s": measured_s},
        "steal_ticks": steal,
    }


def test_steal_is_the_eighth_value_of_the_aggregate_cpu_line():
    assert steal_ticks(PROC_STAT) == 418309
    with pytest.raises(ValueError):
        steal_ticks("cpu0 1 2 3 4 5 6 7 8 9 10\n")


def test_runs_that_drain_their_input_early_are_flagged():
    early, full = _run(17.2, 21, 40), _run(20.4, 19, 310)
    assert drained_early(early, 20)
    assert not drained_early(full, 20)
    assert run_line(11, "change", early, 20) == (
        "seed 11 change p50=0.8 correct=True failed=0 ops=21 measured_s=17.2 steal=40 early"
    )
    assert run_line(11, "parent", full, 20).endswith("measured_s=20.4 steal=310")
    pairs = [{"parent": full, "change": early}, {"parent": full, "change": _run(15.9, 21, 12)}]
    parent_line, change_line = drain_summary(pairs, 20)
    assert parent_line.startswith("parent: 0/2 runs drained early (measured_s < 20)")
    assert change_line.startswith("change: 2/2 runs drained early (measured_s < 20)")
    assert "ops 21/21/21" in change_line


SPEC = {
    "end_to_end": [{"name": "op_latency_p50_s", "better": "lower", "bound": 0.25}],
    "per_layer": [],
}


def test_report_prints_the_verdict_over_quiet_pairs_beside_the_whole_set():
    # eight quiet pairs the change wins by far; in two contended pairs
    # the change run drew the steal and read slower
    steal = [120, 90, 1755, 300, 80, QUIET_STEAL_TICKS, 60, 210, 40, 150]
    pairs = [
        {
            "parent": _run(20.1, 20, 70, p50=p),
            "change": _run(20.1, 20, s, p50=p + 0.9 if s >= QUIET_STEAL_TICKS else p - 0.7),
        }
        for p, s in zip(PARENT, steal)
    ]
    assert len(quiet_pairs(pairs)) == 8  # a run at the threshold is not quiet
    head, line = report(pairs, SPEC)
    assert head.endswith(f"quiet verdict (8/10 pairs < {QUIET_STEAL_TICKS} steal)")
    assert line.endswith(f"{'not worse':10}  gain")  # 8/10 wins: no whole-set gain
    # with no quiet pair there is no quiet verdict
    for p in pairs:
        p["parent"]["steal_ticks"] = 5000
    assert report(pairs, SPEC)[1].endswith(f"{'not worse':10}  -")
