import pytest

import stats


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]  # 1..30, shuffled order ignored
    value, pct, beyond = stats.tail(list(reversed(xs)))
    assert value == 20.0
    assert pct == pytest.approx(100 * 20 / 30)
    assert beyond == 10
    assert sum(x > value for x in xs) == 10


def test_tail_is_highest_such_percentile():
    # one more sample moves the tail up by one rank
    xs = [float(i) for i in range(1, 32)]
    value, pct, beyond = stats.tail(xs)
    assert (value, beyond) == (21.0, 10)
    assert pct == pytest.approx(100 * 21 / 31)


def test_tail_never_falls_below_the_median():
    # up to 20 samples the rule's percentile is at or below p50, so the
    # upper median is reported with the count beyond it
    assert stats.tail([3.0, 1.0, 2.0]) == (2.0, pytest.approx(200 / 3), 1)
    xs = [float(i) for i in range(12)]
    assert stats.tail(xs) == (6.0, pytest.approx(700 / 12), 5)
    assert stats.tail(xs)[0] >= stats.median(xs)
    assert stats.tail([1.0, 1.0, 5.0, 5.0])[0] == 5.0
    assert stats.tail([float(i) for i in range(20)]) == (10.0, 55.0, 9)
    # from 21 samples on, the rule: ten beyond
    assert stats.tail([float(i) for i in range(21)])[::2] == (10.0, 10)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])


def test_union_counts_overlap_once():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert stats.union_length([(3, 4), (0, 1)]) == 2
    assert stats.union_length([(1, 1), (2, 1)]) == 0
    assert stats.union_length([]) == 0


def test_busy_and_gap_clip_to_the_window():
    tasks = [(0, 4), (3, 6), (8, 12), (20, 30)]
    busy, gap = stats.busy_and_gap(tasks, 2, 10)
    # inside [2, 10]: [2, 6] and [8, 10]
    assert busy == 6
    assert gap == 2
    assert stats.busy_and_gap([], 0, 5) == (0, 5)
