import pytest

from stats import failed_share, tail_percentile


def test_tail_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None


def test_tail_is_highest_percentile_with_ten_beyond():
    samples = [float(i) for i in range(1, 21)]           # 20 samples
    p, value, n = tail_percentile(samples)
    assert (p, value, n) == (50, 10.0, 20)              # 10 lie beyond 10.0
    p, value, n = tail_percentile([float(i) for i in range(1, 101)])
    assert (p, value, n) == (90, 90.0, 100)


def test_tail_never_exceeds_p90_and_ignores_order():
    samples = [float(i) for i in range(1000, 0, -1)]
    p, value, n = tail_percentile(samples)
    assert (p, value, n) == (90, 900.0, 1000)


def test_tail_has_at_least_ten_samples_strictly_beyond():
    for n in range(11, 140):
        samples = [float(i) for i in range(n)]
        p, value, _ = tail_percentile(samples)
        assert sum(s > value for s in samples) >= 10
        if p < 90:   # one percent higher would leave fewer than ten
            nxt = sorted(samples)[max(1, -(-(p + 1) * n // 100)) - 1]
            assert sum(s > nxt for s in samples) < 10


def test_failed_share():
    assert failed_share(8, 0) == 0.0
    assert failed_share(8, 2) == 0.25
    assert failed_share(5, 5) == 1.0
    with pytest.raises(ValueError):
        failed_share(0, 0)
    with pytest.raises(ValueError):
        failed_share(3, 4)
