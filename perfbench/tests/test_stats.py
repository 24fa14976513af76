"""The benchmark's own arithmetic: percentile rule, geomean, interval
union."""

import math

import pytest

from perfbench import stats


def test_percentile_interpolates_like_numpy():
    v = [1.0, 2.0, 3.0, 4.0]
    assert stats.percentile(v, 50) == 2.5
    assert stats.percentile(v, 0) == 1.0
    assert stats.percentile(v, 100) == 4.0
    assert stats.median([3.0, 1.0, 2.0]) == 2.0


def test_tail_needs_ten_samples_beyond_it():
    # samples strictly above the percentile's interpolation position
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(92, 90) == 10  # position 81.9: 82..91
    assert stats.samples_beyond(91, 90) == 9  # position 81.0: 82..90
    assert stats.tail_percentile(list(range(91)), 90) is None
    assert stats.tail_percentile([float(i) for i in range(100)], 90) == pytest.approx(89.1)
    assert stats.tail_percentile([1.0] * 30, 50) == 1.0


def test_geomean_of_kind_medians():
    by_kind = {"a": [1.0, 100.0, 4.0], "b": [9.0], "c": []}
    assert stats.geomean_of_medians(by_kind) == pytest.approx(math.sqrt(4.0 * 9.0))
    with pytest.raises(ValueError):
        stats.geomean_of_medians({"a": []})


def test_covered_merges_overlaps():
    assert stats.covered([]) == 0
    assert stats.covered([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert stats.covered([(0, 10), (1, 2), (3, 4)]) == pytest.approx(10.0)
