"""The A/B verdict of ``tools/ab_pairs.py`` (no Spark): a gain needs
wins in 9/10 of the pairs AND a median gap wider than the parent's
IQR, with no more failed operations than the parent; otherwise the
bound decides between not worse and worse, and a spread wider than
the bound leaves the metric unresolved."""

from __future__ import annotations

import pytest

from tools.ab_pairs import parse_seeds, quartiles, verdict, win_share

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
