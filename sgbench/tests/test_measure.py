"""Order statistics: nearest-rank percentiles and the 10-beyond rule."""

from __future__ import annotations

from sgbench.measure import beyond, median, percentile, tail, tree_rss_mb


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99) == 99
    assert percentile([3.0], 90) == 3.0
    assert median([1, 3, 2, 10]) == 2.5


def test_tail_needs_ten_samples_beyond_it():
    assert beyond(100, 90) == 10
    assert tail(list(range(100))) == (90.0, 89)  # p95 would leave only 5 beyond
    assert tail(list(range(1000))) == (99.0, 989)
    p, _ = tail(list(range(99)))
    assert p == 75.0  # 99 samples leave 9 beyond p90
    assert tail(list(range(39))) is None  # not even p75 has ten beyond
    for n in range(1, 400):
        got = tail(list(range(n)))
        if got is not None:
            assert beyond(n, got[0]) >= 10


def test_process_tree_rss_is_positive():
    assert tree_rss_mb() > 1.0
