from perfbench import stats


def test_tail_is_the_value_with_ten_samples_beyond_it():
    values = list(range(1, 21))  # 1..20
    t = stats.tail(values)
    assert t == {"value": 10.0, "percentile": 50, "n": 20}
    assert sum(v > t["value"] for v in values) == 10


def test_tail_percentile_rises_with_the_sample_count():
    t = stats.tail([float(i) for i in range(100)])
    assert (t["value"], t["percentile"], t["n"]) == (89.0, 90, 100)
    t = stats.tail([float(i) for i in range(1000)])
    assert (t["value"], t["percentile"], t["n"]) == (989.0, 99, 1000)


def test_tail_needs_eleven_samples():
    assert stats.tail([1.0] * 10) is None
    t = stats.tail([float(i) for i in range(11)])
    assert (t["value"], t["percentile"], t["n"]) == (0.0, 9, 11)


def test_tail_ignores_input_order():
    assert stats.tail([5.0, 1.0, 4.0] * 5) == stats.tail(sorted([5.0, 1.0, 4.0] * 5))


def test_quartile_spread_matches_statistics_quantiles():
    assert stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == (4.5 - 1.5) / 3.0
    assert stats.quartile_spread([2.0, 2.0, 2.0, 2.0]) == 0.0


def test_drift_ratio_compares_the_halves_and_skips_the_middle():
    assert stats.drift_ratio([1.0, 1.0, 2.0, 2.0]) == 2.0
    assert stats.drift_ratio([1.0, 9.0, 1.0]) == 1.0
    assert stats.drift_ratio([3.0]) == 1.0
