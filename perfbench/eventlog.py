"""Engine-boundary metrics from Spark's own event log.

The traced run sets ``spark.eventLog.enabled=true`` with
``spark.eventLog.compress=false`` (Spark 4.1 writes zstd by default)
and tags every job with the layer span and run id it started under
(see spans.py). This module folds the log's task-end events into one
metrics dict per (run, layer); ``spark_metrics`` averages them over
the traced runs.

Sources per metric:
  task metrics      run / CPU / GC time, shuffle write bytes and time,
                    shuffle read bytes, disk spill
  task info         scheduler delay = (finish - launch) - run
                    - deserialize - result serialization - getting result
  SQL accumulables  Python workers: "time to run", "time to start",
                    "data sent to" (Arrow into Python), "data returned
                    from" (Arrow out of Python)

"time to initialize Python workers" is left out. A reused worker stamps
its boot time when it finishes the previous task (pyspark/worker.py
``main`` sets ``boot_time`` before it blocks on the next task's input),
so the figure includes the time the worker sat idle between tasks and
often exceeds the task's own run time. "time to start Python workers"
is measured inside the task and only reported for freshly started
workers, so it is a cost the task paid.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

from .spans import LAYER_PROP, RUN_PROP

MB = 1024.0 * 1024.0

#: spark.* per-layer metric names, in BENCHMARK.json order
METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_run_s", "spark.task_cpu_s", "spark.scheduler_delay_s",
    "spark.gc_s", "spark.python_run_s", "spark.python_boot_s",
    "spark.arrow_to_py_mb", "spark.arrow_from_py_mb",
    "spark.shuffle_write_mb", "spark.shuffle_write_s",
    "spark.shuffle_read_mb", "spark.spill_mb",
)

_ACCUM = {
    "time to run Python workers": ("spark.python_run_s", 1e-3),
    "time to start Python workers": ("spark.python_boot_s", 1e-3),
    "data sent to Python workers": ("spark.arrow_to_py_mb", 1 / MB),
    "data returned from Python workers": ("spark.arrow_from_py_mb", 1 / MB),
}


def event_files(log_dir: Path) -> list[Path]:
    """Every event file under log_dir (v2 rolling dirs hold events_N_*)."""
    return sorted(
        p for p in Path(log_dir).rglob("*")
        if p.is_file() and (p.name.startswith("events_") or p.name.startswith("local-"))
    )


def read_events(log_dir: Path):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _task_metrics(e: dict) -> dict[str, float]:
    tm = e.get("Task Metrics") or {}
    ti = e.get("Task Info") or {}
    run_ms = tm.get("Executor Run Time", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    delay_ms = (
        ti.get("Finish Time", 0) - ti.get("Launch Time", 0) - run_ms
        - tm.get("Executor Deserialize Time", 0)
        - tm.get("Result Serialization Time", 0)
        - ti.get("Getting Result Time", 0)
    )
    out = defaultdict(float, {
        "spark.tasks": 1,
        "spark.task_run_s": run_ms / 1e3,
        "spark.task_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "spark.scheduler_delay_s": max(delay_ms, 0) / 1e3,
        "spark.gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "spark.shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "spark.shuffle_write_s": sw.get("Shuffle Write Time", 0) / 1e9,
        "spark.shuffle_read_mb": (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB,
        "spark.spill_mb": tm.get("Disk Bytes Spilled", 0) / MB,
    })
    for acc in ti.get("Accumulables", ()):
        hit = _ACCUM.get(acc.get("Name"))
        if hit and acc.get("Update") is not None:
            out[hit[0]] += float(acc["Update"]) * hit[1]
    return out


def aggregate(events) -> dict[tuple[str, str], dict[str, float]]:
    """(run, layer) -> summed metrics, for jobs started inside a span.
    Untagged jobs (set-up, twins, untraced iterations) are skipped."""
    stage_key: dict[int, tuple[str, str]] = {}
    out: dict[tuple[str, str], dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(METRICS, 0.0)
    )
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            layer, run = props.get(LAYER_PROP), props.get(RUN_PROP)
            if layer is None or run is None:
                continue
            key = (run, layer)
            out[key]["spark.jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(e["Stage Info"]["Stage ID"])
            if key is not None and "Submission Time" in e["Stage Info"]:
                out[key]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(e.get("Stage ID"))
            if key is not None:
                acc = out[key]
                for k, v in _task_metrics(e).items():
                    acc[k] += v
    return dict(out)


def spark_metrics(per_key: dict[tuple[str, str], dict[str, float]],
                  runs: list[str]) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Per-iteration means over ``runs``: (totals, by layer)."""
    n = max(len(runs), 1)
    wanted = set(runs)
    total = dict.fromkeys(METRICS, 0.0)
    by_layer: dict[str, dict[str, float]] = {}
    for (run, layer), m in per_key.items():
        if run not in wanted:
            continue
        lay = by_layer.setdefault(layer, dict.fromkeys(METRICS, 0.0))
        for k, v in m.items():
            total[k] += v / n
            lay[k] += v / n
    return total, by_layer
