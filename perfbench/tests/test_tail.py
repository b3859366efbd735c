"""The step-latency tail: ten samples beyond it when there are 40 or more,
a quarter of them when there are fewer."""

from __future__ import annotations

from run import tail


def test_tail_keeps_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    assert tail(xs) == (89.0, 90)


def test_tail_keeps_a_quarter_of_few_samples_beyond_it():
    # one slow step alone does not set the tail of a ten-step run
    xs = [2.0] * 9 + [9.0]
    assert tail(xs) == (2.0, 80)
    assert tail([1.0, 2.0, 3.0, 4.0]) == (3.0, 75)


def test_tail_of_very_few_samples():
    assert tail([1.0, 5.0, 3.0]) == (3.0, 66)
    assert tail([5.0]) == (5.0, 100)
