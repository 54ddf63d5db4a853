"""The tail rule: one sample for p50 and tail, >= 10 samples beyond it."""

from __future__ import annotations

import random

import pytest

from perfbench import stats


def test_tail_has_ten_samples_beyond_and_names_its_percentile():
    sample = [float(i) for i in range(100)]
    t = stats.tail(sample)
    assert t.value == 89.0
    assert sum(x > t.value for x in sample) == 10
    assert t.pct == pytest.approx(90.0)
    assert (t.n, t.beyond, t.rule) == (100, 10, "rank")


@pytest.mark.parametrize("n", range(21, 80))
def test_tail_is_never_below_p50(n):
    rng = random.Random(n)
    sample = [rng.lognormvariate(0, 1) for _ in range(n)]
    t = stats.tail(sample)
    assert t is not None and t.value >= stats.p50(sample)


@pytest.mark.parametrize("n", [1, 2, 10, 20])
def test_no_tail_when_the_sample_is_too_small(n):
    assert stats.tail([1.0] * n) is None
    w = stats.worst([float(i) for i in range(n)])
    assert (w.value, w.rule, w.n) == (n - 1, "max", n)


def test_failures_land_beyond_the_tail():
    ok = [0.1] * 30
    t = stats.tail(ok + [float("inf")] * 5)
    assert t.value == 0.1 and t.n == 35
    t = stats.tail(ok + [float("inf")] * 11)
    assert t.value == float("inf")
    assert stats.finite_or(t.value, 10.0) == 10.0
