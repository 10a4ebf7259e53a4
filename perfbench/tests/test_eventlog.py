"""The event-log parser against a tiny synthetic Spark event log."""

import json

import pytest

from perfbench import eventlog

MB = 1024 * 1024


def _task(stage, run_ms, shuffle_w=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
        },
    }


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job(0, [0, 1], "1|scoring"),
    _task(0, 100, shuffle_w=2 * MB),
    _task(0, 300, shuffle_w=MB),
    _task(1, 1000, spill=3 * MB),
    _task(1, 100),
    _task(1, 100),
    _job(1, [2], "1|scoring"),
    _task(2, 50),
    _job(2, [3]),
    _task(3, 7),
    # a failed task carries no metrics and is skipped
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3},
]


def _check(groups):
    g = groups["1|scoring"]
    assert g.jobs == 2
    assert g.task_s == pytest.approx(1.65)
    assert g.shuffle_write_mb == pytest.approx(3.0)
    assert g.spill_mb == pytest.approx(3.0)
    # stage 1 holds the most task time: max 1000 ms over median 100 ms
    assert g.task_skew == pytest.approx(10.0)
    assert groups[""].jobs == 1 and groups[""].task_s == pytest.approx(0.007)


def test_group_metrics_single_file(tmp_path):
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    _check(eventlog.group_metrics(eventlog.read_events(eventlog.find_log(str(tmp_path)))))


def test_group_metrics_rolling_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # index order, not name order: events_10 comes after events_2
    (d / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in EVENTS[:5]) + "\n")
    (d / "events_10_local-1").write_text("\n".join(json.dumps(e) for e in EVENTS[5:]) + "\n")
    (d / "appstatus_local-1").write_text("")
    (d / ".appstatus_local-1.crc").write_bytes(b"\x00\xff")
    _check(eventlog.group_metrics(eventlog.read_events(eventlog.find_log(str(tmp_path)))))


def test_task_skew_without_tasks_is_one():
    assert eventlog.GroupMetrics().task_skew == 1.0


def test_find_log_rejects_several_applications(tmp_path):
    (tmp_path / "a").write_text("")
    (tmp_path / "b").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
