import pytest

from stats import tail


def test_tail_takes_the_rank_with_ten_samples_beyond():
    values = list(range(100))  # 0..99
    value, pct, n = tail(values)
    assert value == 89  # 90..99 are the ten samples beyond it
    assert n == 100
    assert pct == pytest.approx(100 * 89 / 99)


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert tail(values) == (1.0, pytest.approx(100 * 1 / 11), 12)


def test_tail_of_eleven_samples_is_the_minimum():
    value, pct, n = tail([float(x) for x in range(11)])
    assert (value, pct, n) == (0.0, 0.0, 11)


def test_tail_needs_more_samples_than_it_leaves_beyond():
    with pytest.raises(ValueError):
        tail([1.0] * 10)
