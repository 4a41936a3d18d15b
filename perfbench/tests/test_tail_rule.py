"""The op_tail_s rule (the slowest operation's median) and the pooled
percentile rule the report records next to it."""

import pytest

from perfbench.stats import slowest_op, tail


def test_slowest_op_is_the_largest_per_operation_median():
    samples = [("a", 1.0), ("b", 4.0), ("a", 1.2), ("b", 2.0), ("b", 3.0), ("c", 9.0), ("c", 0.5)]
    # medians: a 1.1, b 3.0, c 4.75
    assert slowest_op(samples) == {"value": 4.75, "op": "c", "samples": 2}
    assert slowest_op([("a", 2.0)]) == {"value": 2.0, "op": "a", "samples": 1}
    with pytest.raises(ValueError):
        slowest_op([])


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100, shuffled order is irrelevant
    t = tail(list(reversed(values)))
    assert t["value"] == 90.0
    assert t["beyond"] == 10
    assert t["samples"] == 100
    assert t["percentile"] == 90.0


def test_tail_with_few_samples_sits_low():
    t = tail([5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0])
    assert (t["value"], t["beyond"], t["samples"]) == (2.0, 10, 12)
    assert t["percentile"] == pytest.approx(100 * 2 / 12)


def test_tail_of_fewer_than_eleven_samples_is_the_largest():
    t = tail([3.0, 1.0, 2.0, 6.0, 5.0, 4.0])
    assert (t["value"], t["beyond"], t["samples"], t["percentile"]) == (6.0, 0, 6, 100.0)
    assert tail([1.0] * 11)["beyond"] == 10
    with pytest.raises(ValueError):
        tail([])
