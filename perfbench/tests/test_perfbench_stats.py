import statistics

import pytest

from stats import summary


def test_even_count_median_averages_the_two_middle_values():
    # taking sorted(values)[n // 2] would report 0.822 here
    values = [0.822, 0.68, 0.751, 0.9, 0.62, 0.751 + 0.02]
    s = summary(values)
    assert s["n"] == 6
    assert s["median"] == pytest.approx((0.751 + 0.771) / 2)
    assert s["median"] != sorted(values)[len(values) // 2]


def test_quartiles_match_statistics_quantiles():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert summary(values) == {"n": 7, "median": q2, "q1": q1, "q3": q3}


def test_single_sample_is_its_own_median():
    assert summary([2.5]) == {"n": 1, "median": 2.5, "q1": 2.5, "q3": 2.5}


def test_no_samples_is_an_error():
    with pytest.raises(ValueError):
        summary([])
