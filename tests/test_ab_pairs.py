"""tools/ab_pairs.py's pure helpers: seed parsing, quartiles and the
no-regression verdict. Stdlib only."""

from __future__ import annotations

import pytest

from tools.ab_pairs import parse_seeds, spread, verdict


def test_parse_seeds_ranges_and_lists():
    assert parse_seeds("31-34") == [31, 32, 33, 34]
    assert parse_seeds("31,35") == [31, 35]
    assert parse_seeds("31-33,40") == [31, 32, 33, 40]
    assert parse_seeds("7") == [7]


def test_spread_quartiles():
    assert spread([2.0]) == (2.0, 2.0, 2.0)
    assert spread([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)


BASE = [1.0, 1.0, 1.0, 1.0, 1.0]


@pytest.mark.parametrize(
    ("change", "better", "expected"),
    [
        ([1.3] * 5, "lower", "worse"),  # median 30% slower
        ([1.2] * 5, "lower", "within bound"),  # 20% slower, inside 0.25
        ([0.7] * 5, "higher", "worse"),  # throughput 30% lower
        ([1.3] * 5, "higher", "within bound"),  # throughput up
        ([0.8] * 5, "lower", "within bound"),  # faster
    ],
)
def test_verdict_against_the_median(change, better, expected):
    assert verdict(BASE, change, better, 0.25) == expected


def test_verdict_unresolved_when_base_spread_exceeds_bound():
    noisy = [0.5, 0.6, 1.0, 1.4, 1.5]  # IQR 0.8 > 0.25 x median 1.0
    assert verdict(noisy, [1.1] * 5, "lower", 0.25) == "unresolved"
    # every change run beats every base run: resolved despite the noise
    assert verdict(noisy, [0.4] * 5, "lower", 0.25) == "within bound"
    # a median beyond the bound is worse, noisy base or not
    assert verdict(noisy, [1.3] * 5, "lower", 0.25) == "worse"
