"""The tail-percentile rule, summary statistics and result digests."""

import json
import os

import pytest

import oracle
import stats

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 31))              # 30 samples
    value, pct = stats.tail(reversed(xs))
    assert value == 20 and sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_at_twenty_samples_is_the_median_rank():
    value, pct = stats.tail(range(1, 21))
    assert (value, pct) == (10, 50.0)


def test_tail_refuses_a_percentile_below_the_median():
    with pytest.raises(ValueError):
        stats.tail(range(19))


def test_spread_and_geomean():
    assert stats.spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)
    assert stats.geomean([1, 4, 16]) == pytest.approx(4)


def test_digest_is_order_insensitive_and_kind_strict():
    a = oracle.digest([(1, 2.5, "x"), (2, None, "y")], ["k", "v", "s"])
    b = oracle.digest([("y", 2, float("nan")), ("x", 1, 2.5)],
                      ["s", "k", "v"])
    assert a == b
    # an int never matches the float of the same value
    assert oracle.digest([(1,)], ["k"]) != oracle.digest([(1.0,)], ["k"])


def test_benchmark_json_names_the_runner_workloads():
    import run
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
