"""The offline event-log parser, on a log recorded from two operations
run under job groups ``op0`` (a scan-and-aggregate query) and ``op1``
(a query that ships rows to Python workers), plus a synthetic log for
task skew and jobs without a group."""

import json
import os

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")
RECORDED = os.path.join(DATA, "eventlog_v2_local-small")


def test_recorded_log_per_group():
    groups = eventlog.parse(RECORDED)
    assert set(groups) == {"op0", "op1"}
    op0, op1 = groups["op0"], groups["op1"]
    assert (op0["jobs"], op0["stages"], op0["tasks"]) == (4, 4, 4)
    assert (op1["jobs"], op1["stages"], op1["tasks"]) == (2, 2, 2)
    assert op0["records_read"] == 15000
    assert op1["records_read"] == 500
    assert op0["executor_run_s"] == pytest.approx(1.381)
    assert op0["executor_cpu_s"] == pytest.approx(0.98121, abs=1e-5)
    assert op0["gc_s"] == pytest.approx(0.061)
    assert op0["scheduler_delay_s"] == pytest.approx(0.094)
    assert op0["shuffle_write_mb"] == pytest.approx(0.047223, abs=1e-6)
    assert op0["shuffle_read_mb"] == pytest.approx(op0["shuffle_write_mb"])
    # Only the Python-worker query moves bytes to and from Python.
    assert op0["python_mb"] == 0
    assert op1["python_mb"] == pytest.approx(0.188528, abs=1e-6)
    assert op1["shuffle_write_mb"] == 0


def test_single_file_and_directory_agree():
    (name,) = os.listdir(RECORDED)
    assert eventlog.parse(os.path.join(RECORDED, name)) == \
        eventlog.parse(RECORDED)


def _task(stage, launch, finish, run):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Getting Result Time": 0, "Accumulables": []},
            "Task Metrics": {"Executor Run Time": run,
                             "Executor Deserialize Time": 0,
                             "Result Serialization Time": 0}}


def test_skew_and_ungrouped_jobs(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "g"}},
        _task(0, 0, 100, 90), _task(0, 0, 100, 100), _task(0, 0, 400, 400),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1}, "Properties": {}},
        _task(1, 0, 50, 50),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1}},
    ]
    log = tmp_path / "app.log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = eventlog.parse(str(log))
    assert groups["g"]["task_skew"] == pytest.approx(4.0)
    assert groups["g"]["scheduler_delay_s"] == pytest.approx(0.01)
    assert groups["g"]["tasks"] == 3
    assert groups[None]["jobs"] == 1 and groups[None]["task_skew"] == 1.0
