import pytest

from stats import tail, tail_index


@pytest.mark.parametrize("n,want", [
    (1, 0), (2, 1), (10, 9),   # no percentile has 10 samples above: max
    (11, 0), (12, 1), (20, 9), (34, 23), (100, 89),
])
def test_tail_index_small_n(n, want):
    assert tail_index(n) == want
    if n > 10:
        assert n - 1 - tail_index(n) == 10


def test_tail_value_and_percentile():
    xs = list(range(34, 0, -1))  # unsorted on purpose
    value, pct, n = tail(xs)
    assert (value, n) == (24.0, 34)
    assert pct == pytest.approx(100.0 * 24 / 34)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        tail_index(0)
