"""The latency-tail rule: at least ten samples beyond the reported one."""

import pytest

from perfbench.harness import TAIL_MIN_BEYOND, tail_percentile


@pytest.mark.parametrize("n", [21, 22, 30, 57, 100, 1000])
def test_tail_has_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    value, pct, count = tail_percentile(samples[::-1])
    assert count == n
    assert sum(1 for s in samples if s > value) == TAIL_MIN_BEYOND
    assert pct == pytest.approx(100.0 * (n - TAIL_MIN_BEYOND) / n)


def test_tail_is_the_highest_such_percentile():
    samples = [float(i) for i in range(100)]
    value, pct, _ = tail_percentile(samples)
    assert (value, pct) == (89.0, 90.0)
    # one sample higher would leave only nine beyond it
    assert sum(1 for s in samples if s > value + 1) == TAIL_MIN_BEYOND - 1


@pytest.mark.parametrize("n", [1, 2, 10, 11, 20])
def test_too_few_samples_report_the_median(n):
    samples = [float(i) for i in range(n)]
    value, pct, count = tail_percentile(samples)
    assert (pct, count) == (50.0, n)
    assert value == pytest.approx((n - 1) / 2)


def test_ties_and_order_do_not_matter():
    samples = [1.0] * 15 + [5.0] * 15
    assert tail_percentile(samples) == tail_percentile(sorted(samples, reverse=True))
    assert tail_percentile(samples)[0] == 5.0


def test_no_samples_is_an_error():
    with pytest.raises(ValueError):
        tail_percentile([])
