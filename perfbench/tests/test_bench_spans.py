"""Spans, coverage and self time of the benchmark's tracer."""

import time

import pytest

from perfbench.spans import Tracer, coverage, durations, runs, self_times


def _traced_iteration(tr, run):
    with tr.iteration(run, traced=True):
        with tr.span("a"):
            time.sleep(0.02)
            with tr.span("a.inner"):
                time.sleep(0.02)
        with tr.span("b"):
            time.sleep(0.02)
        time.sleep(0.01)  # untraced gap inside the iteration


def test_spans_nest_and_cover():
    tr = Tracer()
    _traced_iteration(tr, "it1")
    spans = runs(tr.spans)["it1"]
    assert [s["name"] for s in spans] == ["iteration", "a", "a.inner", "b"]
    assert [s["parent"] for s in spans] == [None, "iteration", "a", "iteration"]
    d = durations(spans)
    assert d["a"] >= d["a.inner"] >= 0.02
    st = self_times(spans)
    assert st["a"] == pytest.approx(d["a"] - d["a.inner"])
    cov = coverage(spans)
    assert 0.6 < cov < 1.0


def test_untraced_iteration_records_nothing():
    tr = Tracer()
    sentinel = object()
    with tr.iteration("it0", traced=False):
        with tr.span("a"):
            pass
        assert tr.stage("a", sentinel) is sentinel
        tr.count("x", 1)
    assert tr.spans == [] and tr.counters == {}


def test_runs_keep_apart():
    tr = Tracer()
    _traced_iteration(tr, "it1")
    _traced_iteration(tr, "it3")
    by_run = runs(tr.spans)
    assert set(by_run) == {"it1", "it3"}
    assert all(len(v) == 4 for v in by_run.values())
