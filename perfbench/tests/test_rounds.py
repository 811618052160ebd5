from types import SimpleNamespace

import common


def test_steady_round_count_is_odd_and_at_least_three():
    for seconds in (1, 5, 10, 14, 16, 30, 60):
        for nominal in (2.0, 5.0, 6.0):
            n = common.steady_round_count(seconds, nominal)
            assert n >= 3 and n % 2 == 1, (seconds, nominal, n)
    assert common.steady_round_count(10, 5.0) == 3
    assert common.steady_round_count(30, 5.0) == 7


def _rounds(cpus):
    it = iter(cpus)
    calls = []

    def one_round(i):
        calls.append(i)
        return SimpleNamespace(cpu=next(it))

    return one_round, calls


def test_warm_up_stops_once_two_rounds_agree():
    one_round, calls = _rounds([32.0, 25.0, 20.0, 19.6, 18.3])
    rounds = common.warm_up(one_round, 9)
    assert [r.cpu for r in rounds] == [32.0, 25.0, 20.0, 19.6]
    assert calls == [0, 1, 2, 3]


def test_warm_up_stops_at_its_cap():
    one_round, calls = _rounds([32.0, 25.0, 20.0, 19.6])
    assert len(common.warm_up(one_round, 3)) == 3
    one_round, calls = _rounds([5.0])
    assert len(common.warm_up(one_round, 1)) == 1


def test_warm_up_runs_its_minimum_even_when_levelled():
    one_round, calls = _rounds([20.0, 19.9, 19.8, 15.0, 14.9])
    rounds = common.warm_up(one_round, 4, min_rounds=3)
    assert [r.cpu for r in rounds] == [20.0, 19.9, 19.8]
    one_round, calls = _rounds([20.0, 16.0, 12.0, 9.0, 8.0])
    assert len(common.warm_up(one_round, 4, min_rounds=3)) == 4
