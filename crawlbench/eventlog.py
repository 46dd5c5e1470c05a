"""Offline reader for Spark's JSON event log.

With ``spark.eventLog.enabled`` on and compression and rolling off, Spark
writes one JSON object per line.  ``read_events`` keeps the job, stage and
task events; ``window_stats`` sums them over a wall-clock window, which is
how the benchmark attributes work to one crawl iteration or one replayed
layer.  Event times are epoch milliseconds, the same clock as
``time.time() * 1000`` in the driver process.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    submit_ms: int


@dataclass
class Stage:
    stage_id: int
    attempt: int
    submit_ms: int
    end_ms: int
    n_tasks: int


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    gc_ms: int
    shuffle_write_bytes: int


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


def find_log(log_dir: str) -> str:
    """The one finished application log in ``log_dir``."""
    names = [
        n for n in os.listdir(log_dir)
        if not n.startswith(".") and not n.endswith(".inprogress")
    ]
    if len(names) != 1:
        raise ValueError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_events(path: str) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs.append(Job(ev["Job ID"], ev["Submission Time"]))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                log.stages.append(
                    Stage(
                        info["Stage ID"],
                        info["Stage Attempt ID"],
                        info["Submission Time"],
                        info["Completion Time"],
                        info["Number of Tasks"],
                    )
                )
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                metrics = ev.get("Task Metrics") or {}
                shuffle = metrics.get("Shuffle Write Metrics") or {}
                log.tasks.append(
                    Task(
                        ev["Stage ID"],
                        info["Launch Time"],
                        info["Finish Time"],
                        metrics.get("JVM GC Time", 0),
                        shuffle.get("Shuffle Bytes Written", 0),
                    )
                )
    return log


def _covered_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def window_stats(log: EventLog, start_ms: float, end_ms: float, slots: int) -> dict:
    """Jobs, stages and tasks that started in [start_ms, end_ms), their task
    time, shuffle bytes written and GC time; ``idle_frac`` is the share of
    the window with no task running and ``slot_util`` the task time over
    window length times ``slots``."""
    span = max(end_ms - start_ms, 1.0)
    tasks = [t for t in log.tasks if start_ms <= t.launch_ms < end_ms]
    task_ms = sum(t.finish_ms - t.launch_ms for t in tasks)
    covered = _covered_ms(
        [(max(t.launch_ms, start_ms), min(t.finish_ms, end_ms)) for t in tasks]
    )
    return {
        "jobs": sum(start_ms <= j.submit_ms < end_ms for j in log.jobs),
        "stages": sum(start_ms <= s.submit_ms < end_ms for s in log.stages),
        "tasks": len(tasks),
        "task_s": task_ms / 1000.0,
        "task_ms": [t.finish_ms - t.launch_ms for t in tasks],
        "shuffle_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "idle_frac": 1.0 - covered / span,
        "slot_util": task_ms / (span * slots),
    }
