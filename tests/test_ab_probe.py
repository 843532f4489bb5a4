"""tools/ab_probe.py summaries (no Spark): in bench mode a run's first
sample of a query is cold, so it must not widen the warm quartiles; in
perfbench mode a gain is shown only by 9/10 wins and a median gap wider
than the baseline's quartile spread."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import ab_probe  # noqa: E402


def test_summary_keeps_cold_first_samples_out_of_warm_quartiles():
    runs = {
        "A": [{"q": [8.0, 3.0, 3.2]}, {"q": [7.0, 3.1, 3.3]}],
        "B": [{"q": [9.0, 2.9, 3.0]}, {"q": [6.5, 3.0, 3.1]}],
    }
    got = ab_probe.summarize(runs, ["q"], n=3)["q"]
    # warm pools: A = 3.0, 3.2, 3.1, 3.3; B = 2.9, 3.0, 3.0, 3.1
    assert (got["A_q1"], got["A_median"], got["A_q3"]) == (3.075, 3.15, 3.225)
    assert (got["B_q1"], got["B_median"], got["B_q3"]) == (2.975, 3.0, 3.025)
    assert got["B_over_A_median"] == round(3.0 / 3.15, 3)
    assert got["first_A"] == [8.0, 7.0] and got["first_B"] == [9.0, 6.5]


def test_summary_with_one_sample_a_run_pools_every_sample():
    runs = {"A": [{"q": [4.0]}, {"q": [2.0]}], "B": [{"q": [3.0]}, {"q": [1.0]}]}
    got = ab_probe.summarize(runs, ["q"], n=1)["q"]
    assert got["A_median"] == 3.0 and got["B_median"] == 2.0
    assert "first_A" not in got and "first_B" not in got


def test_summary_takes_a_third_sample_as_warm():
    """bench.py adds a third sample when two disagree > 2x; it is a warm
    repeat like the second."""
    runs = {"A": [{"q": [5.0, 1.0, 2.0]}], "B": [{"q": [5.0, 1.0]}]}
    got = ab_probe.summarize(runs, ["q"], n=2)["q"]
    assert got["A_median"] == 1.5 and got["B_median"] == 1.0
    assert got["first_A"] == [5.0] and got["first_B"] == [5.0]


def test_metric_summary_shows_a_gain_only_by_wins_and_spread():
    a = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]
    # A: q1 9.925, median 10.0, q3 10.1 -> spread 0.175
    faster = [x - 0.5 for x in a]
    got = ab_probe.metric_summary(a, faster, "lower")
    assert got["B_wins"] == "10/10" and got["gain_shown"] is True
    # one tie and one loss: 8/10 wins is not enough
    mixed = faster[:8] + [a[8], a[9] + 0.1]
    got = ab_probe.metric_summary(a, mixed, "lower")
    assert got["B_wins"] == "8/10" and got["gain_shown"] is False
    # every pair won, but by less than A's q3 - q1
    close = [x - 0.1 for x in a]
    assert ab_probe.metric_summary(a, close, "lower")["gain_shown"] is False
    # the direction comes from the metric
    assert ab_probe.metric_summary(a, faster, "higher")["gain_shown"] is False
    assert ab_probe.metric_summary(faster, a, "higher")["gain_shown"] is True
