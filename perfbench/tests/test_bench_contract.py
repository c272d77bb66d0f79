"""BENCHMARK.json against the benchmark contract and the harness tables."""

import json
import re
from pathlib import Path

from perfbench import eventlog, harness, kernel_probe, run
from perfbench.workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_top_level_keys():
    assert set(BENCH) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert len((ROOT / "BENCHMARK.json").read_bytes()) <= 64 * 1024


def test_command_and_paths():
    cmd = BENCH["command"]
    assert cmd == ["python3", "perfbench/run.py"]
    assert len(cmd) <= 32 and all(len(c) <= 200 for c in cmd)
    assert 1 <= len(BENCH["paths"]) <= 16
    for p in BENCH["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p)
        assert not p.startswith("/") and ".." not in p.split("/")
        assert (ROOT / p).is_dir()
    assert isinstance(BENCH["run_seconds"], int) and 1 <= BENCH["run_seconds"] <= 60


def test_names_units_and_bounds():
    names = []
    assert 2 <= len(BENCH["workloads"]) <= 8
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    assert 1 <= len(BENCH["end_to_end"]) <= 16
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    assert 1 <= len(BENCH["per_layer"]) <= 128
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("higher", "lower")
    assert all(NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))


def test_setup_metric_has_the_largest_bound():
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    setup = e2e["setup_s"]
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in e2e.values())


def test_metric_tables_match_the_harness():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == harness.END_TO_END
    assert [m["name"] for m in BENCH["per_layer"]] == list(harness.PER_LAYER)
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == harness.PER_LAYER
    assert set(kernel_probe.METRICS) <= set(harness.PER_LAYER)
    assert set(eventlog.METRICS) <= set(harness.PER_LAYER)


def test_workloads_are_runnable():
    listed = [w["name"] for w in BENCH["workloads"]]
    assert set(listed) <= set(run.WORKLOADS) == set(WORKLOADS)


def test_timed_iterations_are_a_fixed_count():
    assert harness.timed_iterations(16, 8.0) == harness.MIN_ITERS
    assert harness.timed_iterations(16, 5.0) == 2
    assert harness.timed_iterations(24, 5.0) == 4
    assert harness.timed_iterations(1, 5.0) == harness.MIN_ITERS
    for w in WORKLOADS.values():
        assert harness.timed_iterations(BENCH["run_seconds"], w.ITER_S) >= 2


def _layer_map() -> list[tuple[list[str], str, list[str], list[str]]]:
    """Rows of README.md's layer map: (metrics, layer, should move, on)."""
    lines = (ROOT / "perfbench" / "README.md").read_text().splitlines()
    start = lines.index("| metric | layer | should move | on |") + 2
    rows = []
    for line in lines[start:]:
        if not line.startswith("|"):
            break
        metrics, layer, moves, on = (c.strip() for c in line.strip("|").split("|"))
        rows.append((re.findall(r"`([^`]+)`", metrics), layer,
                     moves.split(" / "), re.split(r",\s*|\s+only$", on)))
    return rows


def test_layer_map_covers_every_per_layer_metric():
    rows = _layer_map()
    listed = [m for metrics, *_ in rows for m in metrics]
    assert sorted(listed) == sorted(harness.PER_LAYER)
    for metrics, layer, moves, on in rows:
        assert all(m.split(".")[0] == layer for m in metrics)
        assert all(e in harness.END_TO_END for e in moves) or moves == ["—"]
        assert set(filter(None, on)) <= set(run.WORKLOADS) | {"all"}
