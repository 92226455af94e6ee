"""The parent/change arithmetic of tools/ab_bench.py on canned run
values: quartiles, pairs won in each metric's direction, and the
medians-beyond-the-parent's-IQR test."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import ab_bench

METRICS = [
    {"name": "warm_pass_p50_s", "better": "lower"},
    {"name": "items_per_s", "better": "higher"},
    {"name": "setup_s", "better": "lower"},
]


def _pairs(parent, change, name="warm_pass_p50_s"):
    return [({name: p}, {name: c}) for p, c in zip(parent, change)]


def test_quartiles_interpolate_inclusively():
    assert ab_bench.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert ab_bench.quartiles([1.0, 2.0, 3.0, 4.0]) == (1.75, 2.5, 3.25)
    assert ab_bench.quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_lower_is_better_wins_and_gain_beyond_iqr():
    parent = [7.0, 7.5, 7.6, 7.7, 8.0, 7.4, 7.9, 7.3, 7.8, 7.2]
    change = [5.9, 5.8, 6.0, 5.7, 8.5, 5.9, 6.1, 5.6, 5.9, 7.9]
    (row,) = ab_bench.summarize(_pairs(parent, change), METRICS)
    assert row["metric"] == "warm_pass_p50_s" and row["pairs"] == 10
    assert row["wins"] == 8  # pair 5 lost; pair 10 lost (7.9 > 7.2)
    q1, med, q3 = row["parent"]
    assert abs(row["change"][1] - med) > q3 - q1
    assert row["gain_beyond_iqr"]
    assert row["ratio"] == row["change"][1] / med


def test_higher_is_better_and_ties_win_nothing():
    pairs = _pairs([10.0, 10.0, 10.0], [11.0, 10.0, 9.0], "items_per_s")
    (row,) = ab_bench.summarize(pairs, METRICS)
    assert row["wins"] == 1
    assert not row["gain_beyond_iqr"]  # equal medians


def test_a_worse_median_is_never_a_gain():
    # medians far apart, but in the wrong direction
    (row,) = ab_bench.summarize(_pairs([1.0, 1.1, 1.2], [2.0, 2.1, 2.2]), METRICS)
    assert row["wins"] == 0 and not row["gain_beyond_iqr"]


def test_spread_within_parent_iqr_is_no_gain():
    parent = [5.0, 9.0, 5.5, 8.5, 6.0, 8.0]
    change = [4.9, 8.9, 5.4, 8.4, 5.9, 7.9]  # wins every pair, but by 0.1
    (row,) = ab_bench.summarize(_pairs(parent, change), METRICS)
    assert row["wins"] == 6 and not row["gain_beyond_iqr"]
