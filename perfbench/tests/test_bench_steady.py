"""Steadiness arithmetic: quartile spread and the bound judgement."""

import statistics

import pytest

from perfbench.steady import judge, spread

BENCH = {"end_to_end": [
    {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]}


def _result(wall, setup, ok=True):
    return {"correct": ok, "attempted": 3, "failed": 0 if ok else 1,
            "metrics": {"wall_s": {"value": wall, "unit": "s"},
                        "setup_s": {"value": setup, "unit": "s"}}}


def test_spread_matches_quantiles():
    vals = [10.0, 10.2, 9.9, 10.1, 10.4, 9.8, 10.0, 10.3, 10.1, 9.95]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))


def test_steady_metrics_pass():
    res = [_result(10 + 0.01 * i, 20 + 0.1 * i) for i in range(5)]
    rows, ok = judge(res, BENCH)
    assert ok
    by = {r["metric"]: r for r in rows}
    assert by["wall_s"]["steady"] and by["setup_s"]["steady"]


def test_wide_setup_fails_like_any_other_metric():
    res = [_result(10 + 0.01 * i, 20 * (1 + i)) for i in range(5)]
    rows, ok = judge(res, BENCH)
    assert not ok
    by = {r["metric"]: r for r in rows}
    assert by["wall_s"]["steady"] and by["setup_s"]["spread"] > 0.25


def test_wide_metric_or_wrong_output_fails():
    wide = [_result(w, 20) for w in (5, 10, 15, 20, 25)]
    assert not judge(wide, BENCH)[1]
    wrong = [_result(10, 20)] * 4 + [_result(10, 20, ok=False)]
    assert not judge(wrong, BENCH)[1]
