"""Percentile rule, F1 and physical-range checks."""

import math

import pytest

from stats import f1, range_violations, tail_percentile


def test_tail_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None


def test_tail_eleven_samples_is_the_minimum():
    xs = [float(x) for x in range(11, 0, -1)]  # unsorted on purpose
    p, v, beyond = tail_percentile(xs)
    assert (v, beyond) == (1.0, 10)
    assert p == pytest.approx(100 / 11)


def test_tail_hundred_samples_is_p90():
    xs = [float(x) for x in range(1, 101)]
    p, v, beyond = tail_percentile(xs)
    assert (p, v, beyond) == (90.0, 90.0, 10)
    assert sum(x > v for x in xs) == 10


def test_tail_twenty_samples_is_the_median_rank():
    p, v, _ = tail_percentile([float(x) for x in range(1, 21)])
    assert (p, v) == (50.0, 10.0)


def test_f1():
    assert f1(90, 5, 5) == pytest.approx(0.9473684)
    assert f1(0, 0, 0) == 1.0


def test_ranges_flag_the_recorded_precedents():
    # a negative derived set-up time and a share above one were published
    # once; both must fail a run
    bad = range_violations({"setup_s": -4.454, "keep_f1": 1.137})
    assert len(bad) == 2


def test_ranges_accept_plausible_values_and_reject_nan():
    ok = {"setup_s": 20.0, "docs_per_s": 300.0, "keep_f1": 1.0,
          "udf.rows": 0.0, "trace.overhead_frac": -0.02, "engine.task_skew": 1.0}
    assert range_violations(ok) == []
    assert range_violations({"docs_per_s": math.nan})
    assert range_violations({"udf.rows": -1.0})
    assert range_violations({"docs_per_s": 0.0})
    assert range_violations({"scale.eff": 1.2})
