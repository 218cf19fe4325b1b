"""Tests for the benchmark's percentile helper.

Run from the repository root: python3 -m pytest enginebench/test_stats.py -q
"""

from __future__ import annotations

import random

import pytest

from stats import MIN_BEYOND, median, min_samples_for_tail, rank_percentile, tail


def test_rank_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert rank_percentile(xs, 50) == (50.0, 50)
    assert rank_percentile(xs, 90) == (90.0, 10)
    assert rank_percentile(xs, 99) == (99.0, 1)
    assert rank_percentile([7.0], 75) == (7.0, 0)


def test_rank_percentile_ignores_input_order():
    xs = [float(i) for i in range(60)]
    shuffled = xs[:]
    random.Random(3).shuffle(shuffled)
    assert rank_percentile(shuffled, 75) == rank_percentile(xs, 75)


def test_tail_needs_ten_samples_beyond_it():
    n = min_samples_for_tail(75)
    assert n == 40
    assert tail([1.0] * n, 75)["beyond"] == MIN_BEYOND
    with pytest.raises(ValueError, match="needs 10"):
        tail([1.0] * (n - 1), 75)
    assert min_samples_for_tail(90) == 100
    assert min_samples_for_tail(50) == 20


def test_tail_never_below_median():
    # ties at the median rank: many equal small values, a few large ones
    xs = [5.0] * 30 + [1.0] * 5 + [9.0] * 15
    t = tail(xs, 75)
    assert t["value"] >= median(xs)
    for seed in range(50):
        rng = random.Random(seed)
        ys = [rng.choice([1.0, 2.0, 2.0, 3.0]) for _ in range(rng.randint(40, 200))]
        assert tail(ys, 75)["value"] >= median(ys)


def test_tail_reports_level_and_count():
    xs = [float(i) for i in range(200)]
    t = tail(xs, 90)
    assert t == {"value": 179.0, "percentile": 90, "samples": 200, "beyond": 20}


def test_rejects_bad_input():
    with pytest.raises(ValueError):
        rank_percentile([], 50)
    with pytest.raises(ValueError):
        rank_percentile([1.0], 100)
    with pytest.raises(ValueError):
        median([])

