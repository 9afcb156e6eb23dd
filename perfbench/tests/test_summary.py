"""The tail-percentile rule and the order statistics."""

import pytest

from perfbench import summary


def test_tail_percentile_leaves_ten_beyond():
    assert summary.tail_percentile(100) == 90
    assert summary.tail_percentile(26) == 61
    assert summary.tail_percentile(1000) == 99
    for n in (11, 20, 26, 57, 100, 150, 999):
        p = summary.tail_percentile(n)
        assert summary.samples_beyond(n, p) >= summary.TAIL_BEYOND
        # the next percentile up would leave fewer than ten
        assert p == 100 or summary.samples_beyond(n, p + 1) < summary.TAIL_BEYOND


def test_tail_percentile_small_samples():
    assert summary.tail_percentile(10) == 0
    assert summary.tail_percentile(5) == 0


def test_each_workload_tail_follows_rule_at_its_recorded_count():
    from perfbench.workloads import WORKLOADS

    for name, wl in WORKLOADS.items():
        for cls, (p, n) in wl.tails.items():
            if summary.tail_percentile(n) <= 50:
                # too few samples for a tail above the median: the
                # slowest operation
                assert p == 100, (name, cls)
            else:
                assert summary.samples_beyond(n, p) >= summary.TAIL_BEYOND, (name, cls)
                assert p <= summary.tail_percentile(n), (name, cls)


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert summary.percentile(xs, 0) == 1.0
    assert summary.percentile(xs, 100) == 4.0
    assert summary.percentile(xs, 50) == 2.5
    assert summary.percentile(list(range(101)), 90) == 90


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        summary.percentile([], 50)
    with pytest.raises(ValueError):
        summary.percentile([1.0], 101)
