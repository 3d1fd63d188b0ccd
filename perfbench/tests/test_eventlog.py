"""The event-log parser on a small synthetic Spark 4 rolling log."""

import json
import os

import pytest

from perfbench import eventlog


def _task(stage, run_ms, launch, finish, accs=(), **metrics):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Getting Result Time": 0,
                      "Accumulables": [
                          {"ID": i, "Name": n, "Update": u} for i, n, u in accs]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor Deserialize Time": 10,
            "Result Serialization Time": 0, "JVM GC Time": 5,
            "Disk Bytes Spilled": metrics.get("spill", 0),
            "Shuffle Write Metrics": {
                "Shuffle Bytes Written": metrics.get("written", 0)},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": metrics.get("read", 0)},
        },
    }


EVENTS = [
    [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "q#1/exec"}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"metrics": [], "children": [{"metrics": [
             {"name": "time to run Python workers", "accumulatorId": 7,
              "metricType": "nsTiming"},
             {"name": "data sent to Python workers", "accumulatorId": 8,
              "metricType": "size"},
             {"name": "time to initialize Python workers",
              "accumulatorId": 9, "metricType": "timing"}]}]}},
        _task(0, 100, 1000, 1200, written=300),
        _task(0, 50, 1000, 1100, written=200, spill=64),
    ],
    [
        _task(1, 400, 1300, 1720, read=500,
              accs=[(7, "time to run Python workers", 2_000_000_000),
                    (8, "data sent to Python workers", 4096),
                    (9, "time to initialize Python workers", 250)]),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "q#1/build"}},
        _task(2, 20, 2000, 2030),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
        _task(3, 1, 3000, 3011),
    ],
]


@pytest.fixture
def rolling_log(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    # written out of order on purpose: files are read by their index
    for index in (2, 1):
        lines = [json.dumps(e) for e in EVENTS[index - 1]]
        (app / f"events_{index}_local-1").write_text("\n".join(lines) + "\n")
    (app / "appstatus_local-1").write_text("")
    return tmp_path


def test_finds_rolling_files_in_order(rolling_log):
    files = eventlog.event_files(str(rolling_log))
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1"]


def test_groups_tasks_by_job_group(rolling_log):
    stats = eventlog.stats_by_group(eventlog.read_events(str(rolling_log)))
    ex = stats["q#1/exec"]
    assert (ex.jobs, ex.stages, ex.tasks) == (1, 2, 3)
    assert ex.task_run_s == pytest.approx(0.55)
    assert ex.gc_s == pytest.approx(0.015)
    # duration - (run + deserialize): 90 + 40 + 10 ms
    assert ex.scheduler_delay_s == pytest.approx(0.14)
    assert (ex.shuffle_write_bytes, ex.shuffle_read_bytes) == (500, 500)
    assert ex.spill_bytes == 64
    assert ex.python_run_s == pytest.approx(2.0)  # ns
    assert ex.python_init_s == pytest.approx(0.25)  # ms
    assert ex.arrow_bytes_sent == 4096
    build = stats["q#1/build"]
    assert (build.jobs, build.tasks) == (1, 1)
    assert stats[""].jobs == 1  # a job without a group
    total = eventlog.GroupStats()
    total.add(ex)
    total.add(build)
    assert (total.jobs, total.tasks) == (2, 4)


def test_single_file_log(tmp_path):
    path = tmp_path / "local-2"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS[0]) + "\n")
    stats = eventlog.stats_by_group(eventlog.read_events(str(tmp_path)))
    assert stats["q#1/exec"].tasks == 2
