"""The tail helper picks the highest percentile with at least ten
samples beyond it."""

import pytest

from perfbench import stats


@pytest.mark.parametrize("n, rank, pct", [(40, 30, 75.0), (100, 90, 90.0), (11, 1, 9.09),
                                          (1000, 990, 99.0)])
def test_tail_leaves_ten_samples_beyond(n, rank, pct):
    values = [float(v) for v in range(1, n + 1)]
    t = stats.tail(list(reversed(values)))
    assert t["value"] == rank
    assert t["percentile"] == pct
    assert sum(v > t["value"] for v in values) == 10 == t["beyond"]
    assert t["samples"] == n


def test_tail_with_ten_or_fewer_samples_is_the_maximum():
    t = stats.tail([3.0, 1.0, 2.0])
    assert t == {"value": 3.0, "percentile": 100.0, "samples": 3, "beyond": 0}


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])


def test_peak_rss_of_a_childless_process_is_zero():
    assert stats.peak_rss_mb(pid=2**22 + 12345) == {"total": 0.0}


def test_steal_share():
    assert stats.steal_share((10, 100), (15, 200)) == 0.05
    assert stats.steal_share((10, 100), (10, 100)) == 0.0
    steal, total = stats.cpu_jiffies()
    assert 0 <= steal <= total
