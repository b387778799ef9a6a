import statistics

import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize("n, expected", [(1, None), (19, None), (20, 50.0), (100, 90.0), (1000, 99.0)])
def test_tail_percentile_examples(n, expected):
    assert stats.tail_percentile(n) == expected


def test_tail_percentile_is_the_highest_with_ten_samples_beyond():
    for n in range(1, 1200):
        p = stats.tail_percentile(n)
        higher = [c for c in stats.CANDIDATES if p is None or c > p]
        assert all(stats.samples_beyond(n, c) < stats.MIN_BEYOND for c in higher)
        if p is not None:
            assert stats.samples_beyond(n, p) >= stats.MIN_BEYOND


@pytest.mark.parametrize("n", [7, 20, 38, 92, 101, 1000])
def test_samples_beyond_counts_samples_above_the_percentile(n):
    xs = list(range(n))
    for p in stats.CANDIDATES:
        v = stats.percentile(xs, p)
        assert sum(x > v for x in xs) == stats.samples_beyond(n, p)


def test_percentile_matches_numpy_linear_rule():
    rng = np.random.default_rng(7)
    xs = list(rng.lognormal(size=37))
    for p in (0, 10, 50, 75, 90, 99, 100):
        assert stats.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)), rel=1e-12)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_spread_is_iqr_over_median():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.spread(xs) == (q3 - q1) / q2


def test_pass_s_is_the_sum_of_call_medians():
    """A slow outlier of one call moves its median, not the unit's time;
    a failed call counts at FAILED_OP_S and is left out of the timed wall."""
    from perfbench.workloads import FAILED_OP_S, Result

    r = Result(per_unit={"write": 1, "read": 4, "scan": 1})
    for dt in (1.0, 1.2, 9.0):
        r.timed("write", dt, op=False)
    for dt in (0.5, 0.6, 0.7, 0.4, 0.5):
        r.timed("read", dt)
    r.timed("scan", 0.9, op=False)
    assert r.pass_s() == pytest.approx(1.2 + 4 * 0.5 + 0.9)
    assert r.ops == [0.5, 0.6, 0.7, 0.4, 0.5]
    r.timed("scan", FAILED_OP_S, op=False)
    assert r.timed_s == pytest.approx(11.2 + 2.7 + 0.9)
    assert r.pass_s() > FAILED_OP_S / 2
