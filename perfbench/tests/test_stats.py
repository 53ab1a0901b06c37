import pytest

from stats import TAIL_MIN_ABOVE, median, percentile, tail_percentile


@pytest.mark.parametrize("n", list(range(11, 400)))
def test_tail_leaves_ten_samples_above(n):
    values = list(range(n))
    p = tail_percentile(n)
    above = sum(v > percentile(values, p) for v in values)
    assert above >= TAIL_MIN_ABOVE
    if p < 99:
        # the next percentile up would leave fewer than ten
        assert sum(v > percentile(values, p + 1) for v in values) \
            < TAIL_MIN_ABOVE


def test_tail_examples():
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_percentile(10)


def test_median_interpolates():
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert percentile([5.0, 1.0, 3.0], 50) == 3.0
