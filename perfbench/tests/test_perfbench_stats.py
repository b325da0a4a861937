import numpy as np
import pytest

from stats import median, percentile, summarize, tail_percentile


def test_percentile_matches_linear_interpolation():
    rng = np.random.default_rng(3)
    xs = list(rng.exponential(size=37))
    for p in (0, 10, 25, 50, 90, 99, 100):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))
    assert median([3.0, 1.0, 2.0, 10.0]) == 2.5


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0),
     (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_summarize_reports_count_median_and_reportable_tail():
    assert summarize([]) == {"n": 0}
    s = summarize([5.0] * 20)
    assert s == {"n": 20, "p50": 5.0}
    s = summarize(range(100))
    assert s["n"] == 100 and s["p50"] == 49.5
    assert s["p90"] == pytest.approx(89.1)
    assert "p99" not in s
