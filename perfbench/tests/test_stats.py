from stats import percentile, samples_needed, tail_percentile


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 0.5) == 2.5
    assert percentile([5], 0.9) == 5


def test_p90_needs_ten_samples_beyond_it():
    for n in range(1, 130):
        values = [float(i) for i in range(n)]
        beyond = sum(v > percentile(values, 0.9) for v in values)
        assert (tail_percentile(values, 0.9) is not None) == (beyond >= 10), n
    assert tail_percentile([float(i) for i in range(80)], 0.9) is None
    assert tail_percentile([float(i) for i in range(samples_needed(0.9))], 0.9) is not None
    assert samples_needed(0.9) == 100


def test_p90_ties_do_not_count_as_beyond():
    values = [1.0] * 95 + [2.0] * 9
    assert tail_percentile(values, 0.9) is None


def test_p50_rule():
    assert tail_percentile([float(i) for i in range(20)], 0.5) == 9.5
    assert tail_percentile([float(i) for i in range(19)], 0.5) is None
