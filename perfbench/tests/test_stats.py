import pytest

from perfbench import stats


def test_samples_beyond_nearest_rank():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.samples_beyond(20, 50) == 10
    assert stats.samples_beyond(1000, 99) == 10


def test_highest_tail_needs_ten_samples_beyond():
    assert stats.highest_tail(99) is None
    assert stats.highest_tail(100) == 90.0
    assert stats.highest_tail(999) == 90.0
    assert stats.highest_tail(1000) == 99.0
    assert stats.highest_tail(10000) == 99.9


def test_summarize_reports_tail_only_when_supported():
    few = stats.summarize([float(i) for i in range(1, 51)])
    assert few["n"] == 50 and few["p50"] == 25.5
    assert few["tail_p"] is None and few["tail"] is None
    many = stats.summarize([float(i) for i in range(1, 101)])
    assert many["tail_p"] == 90.0 and many["tail"] == 90.0


def test_nearest_rank_rejects_empty():
    with pytest.raises(ValueError):
        stats.nearest_rank([], 50)
