"""The event-log reader on a hand-written log and on a small recorded one."""

import json
import os

import pytest

from crawlbench.eventlog import find_log, read_events, window_stats

DATA = os.path.join(os.path.dirname(__file__), "data")
# jobs, stages and tasks of the recorded log: adaptive execution runs the
# map stage and the reduce stage as two jobs and coalesces the reduce side
# to one task
RECORDED = (2, 2, 5)


def _task(stage, launch, finish, gc=0, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "JVM GC Time": gc,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _stage(stage, submit, end, n):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage, "Stage Attempt ID": 0, "Number of Tasks": n,
            "Submission Time": submit, "Completion Time": end,
        },
    }


@pytest.fixture
def handmade(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        _stage(0, 1000, 1600, 2),
        _task(0, 1000, 1400, gc=10, shuffle=100),
        _task(0, 1200, 1600, gc=5, shuffle=50),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1800},
        _stage(1, 1800, 2000, 1),
        # a failed task reports no metrics
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1800, "Finish Time": 2000}},
    ]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    (tmp_path / "app-2.inprogress").write_text("")
    return read_events(find_log(str(tmp_path)))


def test_counts_and_sums(handmade):
    s = window_stats(handmade, 1000, 2000, slots=2)
    assert (s["jobs"], s["stages"], s["tasks"]) == (2, 2, 3)
    assert s["task_s"] == pytest.approx(1.0)
    assert s["shuffle_bytes"] == 150
    assert s["gc_s"] == pytest.approx(0.015)
    # tasks cover 1000-1600 and 1800-2000 of the 1000 ms window
    assert s["idle_frac"] == pytest.approx(0.2)
    assert s["slot_util"] == pytest.approx(1000 / (1000 * 2))


def test_window_keeps_events_that_start_inside(handmade):
    s = window_stats(handmade, 1100, 1900, slots=2)
    assert (s["jobs"], s["stages"], s["tasks"]) == (1, 1, 2)
    # the task launched at 1200 runs to 1600; the one at 1800 past the end
    assert s["idle_frac"] == pytest.approx(1 - (400 + 100) / 800)


def test_find_log_needs_one_finished_log(tmp_path):
    with pytest.raises(ValueError):
        find_log(str(tmp_path))


def test_recorded_log():
    """A two-job local[2] application: range(0, 1000, 1, 4) grouped by id % 10
    and counted, with adaptive execution on."""
    log = read_events(os.path.join(DATA, "small_app.eventlog"))
    start = min(j.submit_ms for j in log.jobs)
    end = max(t.finish_ms for t in log.tasks) + 1
    s = window_stats(log, start, end, slots=2)
    assert (s["jobs"], s["stages"], s["tasks"]) == RECORDED
    assert s["shuffle_bytes"] > 0
    assert 0.0 <= s["idle_frac"] < 1.0
    assert 0.0 < s["slot_util"] <= 1.0
