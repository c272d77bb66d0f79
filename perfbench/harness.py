"""One benchmark run: session, set-up, timed iterations, checks, and
the metrics of BENCHMARK.json.

Untraced run (--trace 0) -> end-to-end metrics:
  items_per_s   workload items (tiles or mosaic cells) / wall_s
  wall_s        median iteration time
  setup_s       session start + the input synthesis (synthesize +
                cache; the session's first jobs) + the warm-up
                iterations, each timed once, as a user meets them
  cpu_s         median CPU seconds of the process tree per iteration
  peak_rss_mb   highest summed RSS of the process tree while timing

Traced run (--trace 1) -> per-layer metrics. The event log is on;
untraced and traced iterations interleave, so the tracing overhead is
the difference of their median walls in one session.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

from . import eventlog, host, proctree
from .spans import Tracer, coverage, durations, runs, self_times
from .workloads import WORKLOADS

END_TO_END = {
    "items_per_s": "1/s", "wall_s": "s", "setup_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB",
}

#: per-layer span metrics: metric name -> span name
SPAN_METRICS = {
    "plans.grain_peek_s": "plans.grain_peek",
    "contours.fused_s": "contours.fused",
    "ids.assign_s": "ids.assign",
    "ids.explode_s": "ids.explode",
    "spatial.pip_s": "spatial.pip",
    "osm_xml.format_s": "osm_xml.format",
    "osm_xml.write_s": "osm_xml.write",
    "mosaic.halo_s": "mosaic.halo",
    "mosaic.routed_flow_s": "mosaic.routed_flow",
}

#: per-layer metrics and their units, in BENCHMARK.json order
PER_LAYER = {
    "sources.synth_s": "s",
    **{m: "s" for m in SPAN_METRICS},
    "contours.post_rows": "count",
    "contours.kept_ratio": "ratio",
    "osm_xml.bytes_out": "bytes",
    "spatial.pip_hit_ratio": "ratio",
    "mosaic.jobs": "count",
    "kernels.marching_s": "s", "kernels.stitch_s": "s", "kernels.post_s": "s",
    "kernels.marching_py_s": "s", "kernels.stitch_py_s": "s",
    "kernels.post_py_s": "s",
    "kernels.triangles_per_s": "1/s", "kernels.dp_keep_ratio": "ratio",
    "kernels.c_path": "count", "kernels.py_fallbacks": "count",
    "kernels.terrain_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.scheduler_delay_s": "s", "spark.gc_s": "s",
    "spark.python_run_s": "s", "spark.python_boot_s": "s",
    "spark.arrow_to_py_mb": "MB", "spark.arrow_from_py_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_write_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "trace.coverage": "ratio", "trace.overhead_s": "s",
}

#: untimed warm-up iterations. The first of a fresh session runs cold
#: (Python workers start and import the engine, the JVM compiles); the
#: second still runs 10-30% slower than the fourth while the JVM keeps
#: compiling
WARMUP_ITERS = 2
MIN_ITERS = 2
#: traced runs time untraced, traced, traced, untraced iterations: the
#: ABBA order cancels the drift of a still-warming JVM from the overhead
MIN_TRACED_ITERS = 4
#: stop starting iterations this long after the run began, so a slow
#: host still ends well inside a 180 s run limit
RUN_BUDGET_S = 130.0


def timed_iterations(seconds: float, iter_s: float) -> int:
    """Timed iterations of an untraced run. ``seconds`` spans the
    iterations after the cold first one, the other warm-ups and the
    timed ones, at the workload's nominal iteration time; at least
    MIN_ITERS are timed. A fixed count, not a time window: iterations
    keep speeding up as the JVM warms, and a window would time fewer of
    them, earlier on that curve, whenever the host runs slow, which
    amplifies host drift."""
    return max(MIN_ITERS, round(seconds / iter_s) - (WARMUP_ITERS - 1))


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: Path):
        self.wl_name = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.record: dict = {}

    def _checked(self, wl, out) -> dict[str, float]:
        """Check one iteration's output; any error counts as a failure."""
        self.attempted += 1
        try:
            problems, counters = wl.check(out)
        except Exception:  # a crashing check is a wrong output
            problems, counters = [traceback.format_exc(limit=3)], {}
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])
            _log("check failed: " + "; ".join(problems[:3]))
        return counters

    def _session(self):
        from hgt2osm2_spark.session import get_spark

        extra = {
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            self.log_dir = self.work / "eventlog" / f"{self.wl_name}-{self.seed}-{os.getpid()}"
            self.log_dir.mkdir(parents=True, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.log_dir),
                "spark.eventLog.compress": "false",
            })
        return get_spark(
            f"perfbench-{self.wl_name}", cores=host.ncores(),
            driver_memory=host.driver_memory(), extra=extra,
        )

    def execute(self) -> dict:
        t0 = time.perf_counter()
        spark = self._session()
        session_s = time.perf_counter() - t0
        try:
            return self._measure(spark, t0, session_s)
        finally:
            _stop(spark)

    def _measure(self, spark, t0: float, session_s: float) -> dict:
        me = os.getpid()
        cores = host.ncores()
        wl = WORKLOADS[self.wl_name](spark, self.seed, cores, self.work, self.traced)
        tr = Tracer(spark.sparkContext)

        # set-up as a user meets it: one input synthesis (the session's
        # first jobs, cold), then the warm-up iterations
        t = time.perf_counter()
        wl.synthesize()
        synth_s = time.perf_counter() - t
        warm_s = []
        for k in range(WARMUP_ITERS):
            t = time.perf_counter()
            with tr.iteration(f"warm{k}", traced=False):
                out = wl.iterate(tr)
            warm_s.append(time.perf_counter() - t)
            if k == 0:
                # untimed: the expected outputs of every check
                t = time.perf_counter()
                wl.twin(out)
                twin_s = time.perf_counter() - t
            self._checked(wl, out)
        setup_s = session_s + synth_s + sum(warm_s)
        _log(f"session {session_s:.2f}s, synth {synth_s:.2f}s, warm-up "
             f"{' + '.join(f'{w:.2f}s' for w in warm_s)}, twin {twin_s:.2f}s")

        walls, cpus, traced_walls, counters = [], [], [], []
        traced_runs: list[str] = []
        need = MIN_TRACED_ITERS if self.traced else timed_iterations(self.seconds, wl.ITER_S)
        least = need if self.traced else 1

        def more(i: int) -> bool:
            if i < least:
                return True
            return i < need and time.perf_counter() - t0 <= RUN_BUDGET_S

        i = 0
        with proctree.PeakRss(me) as rss:
            while more(i):
                traced = self.traced and i % 4 in (1, 2)
                run_id = f"it{i}"
                c0 = proctree.cpu_seconds(me)
                t = time.perf_counter()
                with tr.iteration(run_id, traced=traced):
                    out = wl.iterate(tr)
                dt = time.perf_counter() - t
                cpu = proctree.cpu_seconds(me) - c0
                it_counters = {**tr.counters, **self._checked(wl, out)}
                if traced:
                    traced_walls.append(dt)
                    traced_runs.append(run_id)
                    counters.append(it_counters)
                else:
                    walls.append(dt)
                    cpus.append(cpu)
                i += 1
        _log(f"{len(walls)} untraced iterations, median {statistics.median(walls):.3f}s")

        self.record = {
            "workload": self.wl_name, "seed": self.seed, "traced": self.traced,
            "items": wl.items, "items_unit": wl.items_unit,
            "session_s": session_s, "synth_s": synth_s, "warm_s": warm_s,
            "twin_s": twin_s,
            "walls_s": walls, "cpu_s": cpus, "traced_walls_s": traced_walls,
            "problems": self.problems[:20],
        }
        if not self.traced:
            wall = statistics.median(walls)
            metrics = {
                "items_per_s": wl.items / wall,
                "wall_s": wall,
                "setup_s": setup_s,
                "cpu_s": statistics.median(cpus),
                "peak_rss_mb": rss.peak / (1024.0 * 1024.0),
            }
            units = END_TO_END
        else:
            spark.stop()  # flushes the event log
            metrics = self._layer_metrics(wl, tr, traced_runs, counters,
                                          walls, traced_walls, synth_s)
            units = PER_LAYER
        self.record["metrics"] = metrics
        return {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}

    def _layer_metrics(self, wl, tr, traced_runs, counters, walls,
                       traced_walls, synth_s) -> dict[str, float]:
        m = dict.fromkeys(PER_LAYER, 0.0)
        m["sources.synth_s"] = synth_s
        by_run = runs(tr.spans)
        traced = [by_run[r] for r in traced_runs]
        for metric, span in SPAN_METRICS.items():
            m[metric] = statistics.median(durations(s).get(span, 0.0) for s in traced)
        m["trace.coverage"] = statistics.median(coverage(s) for s in traced)
        m["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)

        def med(key):
            vals = [c[key] for c in counters if key in c]
            return statistics.median(vals) if vals else 0.0

        post_rows = med("contours.fused.rows")
        m["contours.post_rows"] = post_rows
        m["contours.kept_ratio"] = med("contours.kept_rows") / post_rows if post_rows else 0.0
        m["osm_xml.bytes_out"] = med("osm_xml.bytes_out")
        m["spatial.pip_hit_ratio"] = med("spatial.pip_hit_ratio")

        per_key = eventlog.aggregate(eventlog.read_events(self.log_dir))
        total, by_layer = eventlog.spark_metrics(per_key, traced_runs)
        m.update(total)
        m["mosaic.jobs"] = sum(
            v["spark.jobs"] for k, v in by_layer.items() if k.startswith("mosaic.")
        )
        probe, problems = wl.probe()
        m.update(probe)
        if problems:  # the C/Python kernel twins disagree: a wrong output
            self.attempted += 1
            self.failed += 1
            self.problems.extend(problems)
        self.record["spans"] = tr.spans
        self.record["self_s"] = [self_times(s) for s in traced]
        self.record["spark_by_layer"] = by_layer
        return m


def _stop(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it:
    the JVM exits when its stdin pipe closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(workload: str, seed: int, seconds: float, trace: bool, root: Path) -> int:
    work = host.prepare_env(root)
    run = Run(workload, seed, seconds, trace, work)
    metrics = run.execute()
    stamp = host.facts()
    run.record["host"] = stamp
    out = work / "results" / f"{workload}-seed{seed}-trace{int(trace)}.json"
    out.write_text(json.dumps(run.record, indent=1, default=str))
    print(json.dumps({"host": stamp, "record": str(out.relative_to(root))}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0
