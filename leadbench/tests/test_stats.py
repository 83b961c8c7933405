import pytest

import stats


@pytest.mark.parametrize(
    "n, label",
    [(1, "max"), (19, "max"), (40, "p75"), (109, "p90"), (200, "p95"), (1000, "p99"), (10_000, "p99.9")],
)
def test_tail_takes_highest_percentile_with_ten_beyond(n, label):
    values = list(range(1, n + 1))
    value, got = stats.tail(values)
    assert got == label
    if label == "max":
        assert value == n
    else:
        p = float(label[1:])
        assert value == stats.percentile(values, p)
        assert n - value >= stats.TAIL_MIN_BEYOND
        # the next percentile up would leave fewer than ten beyond
        higher = [q for q in stats.TAIL_PERCENTILES if q > p]
        if higher:
            assert n - stats.percentile(values, min(higher)) < stats.TAIL_MIN_BEYOND


def test_tail_is_order_free():
    assert stats.tail([5, 1, 4, 2, 3]) == (5, "max")


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_paired_overhead_is_median_of_pair_differences():
    untraced = [1.0, 2.0, 3.0]
    traced = [1.5, 2.1, 3.2]
    assert stats.paired_overhead(untraced, traced) == pytest.approx(0.2)
    # a drift shared by both legs of each pair cancels out
    assert stats.paired_overhead([10.0, 5.0], [10.1, 5.1]) == pytest.approx(0.1)


def test_spread_matches_quartile_definition():
    s = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert s["median"] == 5.5
    assert s["iqr_share"] == pytest.approx((s["q3"] - s["q1"]) / 5.5)
