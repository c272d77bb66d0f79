"""tools/ab.py's verdict rule on fixed paired samples, with the bounds
read from BENCHMARK.json. No Spark, no subprocess."""

import json
from pathlib import Path

from tools.ab import decide

BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
E2E = {m["name"]: m for m in BENCH["end_to_end"]}

# a parent with a tight spread: IQR 0.2 s around a 10 s median
PARENT = [10.0, 10.2, 9.9, 10.1, 10.3, 10.0, 9.8, 10.2, 10.1, 10.0]


def _decide(metric, a, b):
    return decide(a, b, E2E[metric]["better"], E2E[metric]["bound"])


def test_gain_needs_nine_tenths_of_pairs_and_a_gap_above_the_iqr():
    faster = [x - 1.0 for x in PARENT]
    d = _decide("wall_s", PARENT, faster)
    assert (d["verdict"], d["wins"], d["pairs"]) == ("gain", 10, 10)
    # the same gain on a higher-is-better metric
    assert _decide("items_per_s", PARENT, [x + 1.0 for x in PARENT])["verdict"] == "gain"
    # two pairs lost: 8/10 wins is no gain, however large the gap
    mixed = faster[:8] + [x + 0.5 for x in PARENT[8:]]
    assert _decide("wall_s", PARENT, mixed)["verdict"] == "no gain"
    # fewer than ten pairs never make a gain
    assert _decide("wall_s", PARENT[:9], faster[:9])["verdict"] == "no gain"
    # every pair won, but by less than the parent's IQR: no gain
    assert _decide("wall_s", PARENT, [x - 0.05 for x in PARENT])["verdict"] == "no gain"


def test_no_change_is_no_gain():
    d = _decide("wall_s", PARENT, list(reversed(PARENT)))
    assert d["verdict"] == "no gain" and d["worse"] == 0.0


def test_regression_is_a_median_worse_by_more_than_the_bound():
    bound = E2E["wall_s"]["bound"]
    slower = [x * (1 + bound + 0.05) for x in PARENT]
    assert _decide("wall_s", PARENT, slower)["verdict"] == "regression"
    fewer = [x * (1 - bound - 0.05) for x in PARENT]
    assert _decide("items_per_s", PARENT, fewer)["verdict"] == "regression"
    within = [x * (1 + bound - 0.05) for x in PARENT]
    assert _decide("wall_s", PARENT, within)["verdict"] == "no gain"


def test_spread_wider_than_the_bound_is_unresolved():
    wide = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
    d = _decide("wall_s", wide, list(reversed(wide)))
    assert d["spread"] > E2E["wall_s"]["bound"]
    assert d["verdict"] == "unresolved"
    # unless every change run beats every parent run
    assert _decide("wall_s", wide, [x / 4 for x in wide[:5]] * 2)["verdict"] == "gain"

