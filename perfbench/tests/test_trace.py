"""The event-log reducer on a tiny hand-written log."""

import os
import shutil

import pytest

from perfbench.trace import event_files, reduce_event_log

TINY = os.path.join(os.path.dirname(__file__), "data", "events_tiny.jsonl")


@pytest.fixture(scope="module")
def groups():
    return reduce_event_log([TINY])


def test_task_metrics_sum_per_group(groups):
    s1 = groups["blocking.signatures"]
    assert s1["jobs"] == 1
    # stage 0 (two tasks) and stage 1 (one task) both belong to job 0
    assert s1["tasks"] == 3
    assert s1["exec_run_s"] == pytest.approx(3.0)
    assert s1["shuffle_write_bytes"] == 150
    assert s1["shuffle_read_bytes"] == 100
    assert s1["spill_bytes"] == 15


def test_python_boundary_accumulables(groups):
    s1 = groups["blocking.signatures"]
    assert s1["py_sent_bytes"] == 1200
    assert s1["py_returned_bytes"] == 1000
    assert s1["py_run_s"] == pytest.approx(2.0)


def test_reused_stage_counted_once(groups):
    # job 1 lists stage 1 again; its tasks stay with the first job's group
    cc = groups["cluster.connected_components"]
    assert cc["tasks"] == 1
    assert cc["exec_run_s"] == pytest.approx(0.25)
    assert cc["callsites"] == ["collect at cluster.py:69"]


def test_ungrouped_jobs(groups):
    assert groups[""]["tasks"] == 1
    assert groups[""]["py_sent_bytes"] == 0


def test_event_files_rolling_layout(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n in (10, 2, 1):
        shutil.copy(TINY, app / f"events_{n}_local-1")
    (app / "appstatus_local-1").write_text("")
    files = event_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"
    ]
    # three copies of the log: every stage already has its group, so the
    # repeated job starts add jobs but move no task
    g = reduce_event_log(files)
    assert g["blocking.signatures"]["tasks"] == 9
    assert g["blocking.signatures"]["jobs"] == 3
