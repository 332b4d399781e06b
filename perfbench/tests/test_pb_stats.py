"""The reporting rule: median plus the highest percentile with at least
ten samples beyond it, with the sample count."""

import pytest

from stats import highest_percentile, percentile, samples_beyond, summarize


@pytest.mark.parametrize(
    "n, p",
    [(5, None), (19, None), (40, 75.0), (49, 75.0), (50, 80.0), (100, 90.0),
     (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_highest_percentile_keeps_ten_samples_beyond(n, p):
    assert highest_percentile(n) == p
    if p is not None:
        assert samples_beyond(n, p) >= 10


def test_fifty_samples_give_p80_with_ten_beyond():
    values = list(range(1, 51))
    out = summarize(values)
    assert out["n"] == 50
    assert out["median"] == 25.5
    assert out["p80"] == 40
    assert sum(v > out["p80"] for v in values) == 10


def test_small_samples_report_only_the_median():
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "median": 2.0}
    assert summarize([]) == {"n": 0, "median": None}


def test_nearest_rank_percentile():
    assert percentile([5, 1, 4, 2, 3], 50) == 3
    assert percentile([1, 2, 3, 4], 100) == 4
