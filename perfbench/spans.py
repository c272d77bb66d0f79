"""In-memory spans around each layer call of a benchmark iteration.

A span records name, start, end, parent and run id. When tracing is
on, ``stage`` caches and counts a layer's output DataFrame inside the
layer's span, so each layer's work lands in its own span instead of in
whichever later action first pulls it. Every Spark job started inside
a span carries the span name and run id as local properties
(``perfbench.layer`` / ``perfbench.run``), which the event-log reader
uses to attribute engine metrics to layers.

With tracing off, ``span`` and ``stage`` do nothing, so the untraced
iteration runs the engine exactly as a caller would.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

LAYER_PROP = "perfbench.layer"
RUN_PROP = "perfbench.run"


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.run: str | None = None
        self._stack: list[int] = []
        self._held: list = []

    @contextmanager
    def iteration(self, run: str, traced: bool):
        """Root span of one iteration; ``traced`` turns layer spans on
        for its duration (traced and untraced iterations interleave)."""
        prev = self.enabled
        self.enabled = traced
        self.run = run
        self.counters = {}
        try:
            with self.span("iteration"):
                yield self
        finally:
            self.enabled = prev
            for df in self._held:
                df.unpersist()
            self._held = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name, "run": self.run,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._set_props(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_props(
                self.spans[self._stack[-1]]["name"] if self._stack else None
            )

    def stage(self, name: str, df):
        """Materialize ``df`` (cache + count) inside span ``name`` when
        tracing; return it unchanged otherwise. Later actions reuse the
        cached rows through Spark's cache substitution."""
        if not self.enabled or df is None:
            return df
        with self.span(name):
            df = df.cache()
            self.counters[name + ".rows"] = df.count()
        self._held.append(df)
        return df

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = value

    def _set_props(self, layer: str | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty(LAYER_PROP, layer)
        self.sc.setLocalProperty(RUN_PROP, self.run if layer else None)


def runs(spans: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for s in spans:
        out.setdefault(s["run"], []).append(s)
    return out


def coverage(run_spans: list[dict]) -> float:
    """Share of the iteration span covered by its direct child spans
    (children run one after another, so their durations add)."""
    root = next(s for s in run_spans if s["name"] == "iteration")
    total = root["end"] - root["start"]
    inner = sum(
        s["end"] - s["start"] for s in run_spans if s["parent"] == "iteration"
    )
    return inner / total if total > 0 else 0.0


def self_times(run_spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part its child spans cover, by name."""
    out: dict[str, float] = {}
    for s in run_spans:
        dur = s["end"] - s["start"]
        kids = sum(
            c["end"] - c["start"] for c in run_spans
            if c["parent"] == s["name"] and s["start"] <= c["start"] <= s["end"]
        )
        out[s["name"]] = out.get(s["name"], 0.0) + dur - kids
    return out


def durations(run_spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in run_spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out
