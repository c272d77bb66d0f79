"""The event-log reader on a small synthetic Spark 4.1 log and on task-end
lines copied from a real Spark 4.1 event log."""

import json
from pathlib import Path

import pytest

from perfbench import eventlog
from perfbench.spans import LAYER_PROP, RUN_PROP


def _job(job_id, stages, layer=None, run=None):
    props = {"spark.sql.execution.id": "0"}
    if layer:
        props.update({LAYER_PROP: layer, RUN_PROP: run})
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms=100, cpu_ns=50_000_000, launch=1000, finish=1150,
          py_sent=1024 * 1024, shuffle_bytes=2 * 1024 * 1024):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0,
            "Accumulables": [
                {"Name": "data sent to Python workers", "Update": str(py_sent)},
                {"Name": "time to run Python workers", "Update": "40"},
                {"Name": "time to start Python workers", "Update": "10"},
                {"Name": "time to initialize Python workers", "Update": "5"},
                {"Name": "number of output rows", "Update": "7"},
            ],
        },
        "Task Metrics": {
            "Executor Deserialize Time": 20, "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns, "JVM GC Time": 4,
            "Result Serialization Time": 1, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes,
                                      "Shuffle Write Time": 3_000_000},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 1024 * 1024},
        },
    }


def _stage_done(stage, ran=True):
    info = {"Stage ID": stage}
    if ran:
        info["Submission Time"] = 1
    return {"Event": "SparkListenerStageCompleted", "Stage Info": info}


@pytest.fixture
def log_dir(tmp_path):
    events = [
        _job(0, [0], "contours.fused", "it1"),
        _task(0), _task(0),
        _stage_done(0),
        _job(1, [1, 2], "spatial.pip", "it1"),
        _task(2),
        _stage_done(1, ran=False),  # skipped stage: not counted
        _stage_done(2),
        _job(2, [3]),  # untagged (set-up): ignored
        _task(3), _stage_done(3),
        _job(3, [4], "contours.fused", "it3"),
        _task(4), _stage_done(4),
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return tmp_path


def test_aggregate_per_run_and_layer(log_dir):
    agg = eventlog.aggregate(eventlog.read_events(log_dir))
    assert set(agg) == {("it1", "contours.fused"), ("it1", "spatial.pip"),
                        ("it3", "contours.fused")}
    fused = agg[("it1", "contours.fused")]
    assert fused["spark.jobs"] == 1 and fused["spark.stages"] == 1
    assert fused["spark.tasks"] == 2
    assert fused["spark.task_run_s"] == pytest.approx(0.2)
    assert fused["spark.task_cpu_s"] == pytest.approx(0.1)
    # delay = 150 - 100 run - 20 deserialize - 1 result ser, per task
    assert fused["spark.scheduler_delay_s"] == pytest.approx(2 * 0.029)
    assert fused["spark.gc_s"] == pytest.approx(0.008)
    assert fused["spark.python_run_s"] == pytest.approx(0.08)
    # "time to start" only; "time to initialize" is not a task cost
    assert fused["spark.python_boot_s"] == pytest.approx(0.02)
    assert fused["spark.arrow_to_py_mb"] == pytest.approx(2.0)
    assert fused["spark.shuffle_write_mb"] == pytest.approx(4.0)
    assert fused["spark.shuffle_write_s"] == pytest.approx(0.006)
    assert fused["spark.shuffle_read_mb"] == pytest.approx(2.0)
    pip = agg[("it1", "spatial.pip")]
    assert pip["spark.stages"] == 1 and pip["spark.tasks"] == 1


def test_spark_metrics_average_over_traced_runs(log_dir):
    agg = eventlog.aggregate(eventlog.read_events(log_dir))
    total, by_layer = eventlog.spark_metrics(agg, ["it1", "it3"])
    assert set(total) == set(eventlog.METRICS)
    assert total["spark.jobs"] == pytest.approx(1.5)  # 3 jobs over 2 runs
    assert total["spark.tasks"] == pytest.approx(2.0)  # 4 tasks over 2 runs
    assert by_layer["contours.fused"]["spark.tasks"] == pytest.approx(1.5)
    only_first, _ = eventlog.spark_metrics(agg, ["it1"])
    assert only_first["spark.tasks"] == 3


REAL_TASK_ENDS = Path(__file__).parent / "data" / "spark41_task_end.jsonl"


def test_python_times_fit_inside_real_tasks():
    """Two task-end events of a tile_pip run: one on a reused worker whose
    "time to initialize" (4468 ms) is ten times the task's run time
    (388 ms), one on a freshly started worker. The Python times the
    reader reports must fit inside the task's run time."""
    events = [json.loads(line) for line in REAL_TASK_ENDS.read_text().splitlines()]
    assert len(events) == 2
    for e in events:
        m = eventlog._task_metrics(e)
        assert 0 <= m["spark.python_boot_s"] <= m["spark.task_run_s"]
        assert 0 < m["spark.python_run_s"] <= m["spark.task_run_s"]
    reused, fresh = (eventlog._task_metrics(e) for e in events)
    assert reused["spark.task_run_s"] == pytest.approx(0.388)
    assert reused["spark.python_boot_s"] == 0
    assert fresh["spark.python_boot_s"] == pytest.approx(1.425)
