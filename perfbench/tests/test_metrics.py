import pytest

import metrics


def test_nearest_rank_percentile():
    values = list(range(1, 101))
    assert metrics.percentile(values, 50) == 50
    assert metrics.percentile(values, 90) == 90
    assert metrics.percentile(values, 100) == 100
    assert metrics.percentile([7.0], 75) == 7.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert metrics.samples_beyond(40, 75) == 10
    assert metrics.samples_beyond(39, 75) == 9
    assert metrics.tail_percentile(19) is None
    assert metrics.tail_percentile(20) == 50
    assert metrics.tail_percentile(39) == 50
    assert metrics.tail_percentile(42) == 75
    assert metrics.tail_percentile(99) == 75
    assert metrics.tail_percentile(100) == 90
    assert metrics.tail_percentile(200) == 95
    assert metrics.tail_percentile(1000) == 99


def test_geomean():
    assert metrics.geomean([1.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        metrics.geomean([0.0, 1.0])
