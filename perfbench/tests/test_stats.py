import pytest

from stats import event_lags, iqr_share, percentile


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 99) == 99
    assert percentile(values, 100) == 100
    # never interpolates: every answer is an observed sample
    assert percentile([1.0, 10.0], 50) == 1.0
    assert percentile([1.0, 10.0], 51) == 10.0
    assert percentile([7.0], 99) == 7.0


def test_percentile_ignores_input_order():
    assert percentile([5, 1, 4, 2, 3], 60) == 3


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 0)
    with pytest.raises(ValueError):
        percentile([1], 101)


def test_lag_is_event_weighted():
    # one event made visible at t=10, a thousand at t=2; all created at 0
    lags = event_lags([(0, 1, 10.0), (1, 1001, 2.0)], lambda v: 0.0)
    assert len(lags) == 1001
    assert percentile(lags, 50) == 2.0
    assert percentile(lags, 99) == 2.0
    assert percentile(lags, 100) == 10.0


def test_lag_uses_each_events_creation_time():
    # open loop at 1 event/s from t=0: version v is created at v - 1
    commits = [(0, 3, 5.0), (3, 5, 6.0)]
    lags = event_lags(commits, lambda v: float(v - 1))
    assert lags == [5.0, 4.0, 3.0, 3.0, 2.0]


def test_lag_skips_empty_commits():
    assert event_lags([(4, 4, 9.0)], lambda v: 0.0) == []


def test_iqr_share():
    assert iqr_share([10.0, 10.0, 10.0, 10.0]) == 0.0
    assert iqr_share([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx(0.3)
