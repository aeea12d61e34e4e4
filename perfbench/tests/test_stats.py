"""Quantiles, the tail rule and span self-time arithmetic."""

import pytest

from perfbench import stats


def test_median_of_symmetric_samples():
    assert stats.quantile([3.0, 1.0, 2.0], 0.5) == pytest.approx(2.0)
    assert stats.quantile([float(v) for v in range(1, 101)], 0.5) == pytest.approx(50.5)
    assert stats.quantile([4.0], 0.5) == 4.0


def test_median_moves_smoothly_across_a_gap():
    # two keys, 0.2 s and 0.6 s: one order statistic jumps by the whole
    # gap when a single sample moves across it; the estimate moves a little
    low, high = [0.2] * 7 + [0.6] * 8, [0.2] * 8 + [0.6] * 7
    assert sorted(low)[7] - sorted(high)[7] == pytest.approx(0.4)
    assert 0 < stats.quantile(low, 0.5) - stats.quantile(high, 0.5) < 0.15


def test_tail_has_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100
    value, pct = stats.tail(values)
    assert pct == 90.0
    assert 90.0 < value < 91.0
    assert sum(v > value for v in values) == 10


def test_tail_ignores_input_order_and_smallest_n():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0]
    value, pct = stats.tail(values)
    assert pct == pytest.approx(100 / 11)
    assert value == pytest.approx(stats.quantile(sorted(values), 1 / 11))
    assert 1.0 < value < 3.0


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def _span(start, end, parent=None):
    return {"name": "x", "start": start, "end": end, "parent": parent, "op": 0}


def test_self_time_subtracts_children():
    spans = [
        _span(0.0, 10.0),  # 0: root
        _span(1.0, 3.0, 0),  # 1: child
        _span(4.0, 8.0, 0),  # 2: child
        _span(5.0, 6.0, 2),  # 3: grandchild
    ]
    assert stats.self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0])


def test_self_time_merges_overlap_and_clips_to_parent():
    spans = [
        _span(0.0, 10.0),
        _span(2.0, 6.0, 0),
        _span(4.0, 12.0, 0),  # overlaps its sibling and outlives the parent
    ]
    assert stats.self_times(spans)[0] == pytest.approx(2.0)


def test_self_times_sum_to_root_duration():
    spans = [_span(0.0, 7.0), _span(1.0, 2.5, 0), _span(3.0, 6.0, 0), _span(3.5, 4.0, 2)]
    assert sum(stats.self_times(spans)) == pytest.approx(7.0)
