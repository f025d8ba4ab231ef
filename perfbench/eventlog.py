"""Offline reader for Spark's uncompressed JSON event log.

``read_event_log`` keeps only what the engine metrics need: jobs
(submission time, job group, stage ids) and finished tasks (stage,
launch/finish times, the task metrics). ``engine_metrics`` sums them
over a set of execution windows, attributing each job to the window of
the query that ran it: by job group when the job carries the group the
harness set, else by submission time (streaming micro-batch jobs run
under the stream's own group).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from stats import union_length

MB = 1024 * 1024


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    failed: bool
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill_disk: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    heap_peak: int = 0


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> (submit_ms, group, stage ids)
    tasks: list = field(default_factory=list)


def _task(ev) -> Task:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    read = m.get("Shuffle Read Metrics") or {}
    peaks = ev.get("Task Executor Metrics") or {}
    return Task(
        stage=ev["Stage ID"],
        launch_ms=info.get("Launch Time", 0),
        finish_ms=info.get("Finish Time", 0),
        failed=bool(info.get("Failed")) or (ev.get("Task End Reason") or {}).get("Reason") != "Success",
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        shuffle_read=read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
        spill_disk=m.get("Disk Bytes Spilled", 0),
        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
        output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
        heap_peak=peaks.get("JVMHeapMemory", 0),
    )


def read_event_log(lines) -> EventLog:
    """Parse event-log lines (an open file or any iterable of str)."""
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = (
                ev.get("Submission Time", 0),
                props.get("spark.jobGroup.id"),
                tuple(ev.get("Stage IDs", ())),
            )
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(_task(ev))
    return log


def attribute_jobs(log: EventLog, windows):
    """Map job id -> window key. ``windows`` is a list of
    (key, group, start_s, end_s): a job whose group equals a window's
    group belongs to it; any other job belongs to the window its
    submission time falls in. Jobs outside every window are dropped."""
    by_group = {group: key for key, group, _, _ in windows if group}
    out = {}
    for job_id, (submit_ms, group, _) in log.jobs.items():
        if group in by_group:
            out[job_id] = by_group[group]
            continue
        t = submit_ms / 1000
        for key, _, start, end in windows:
            if start <= t <= end:
                out[job_id] = key
                break
    return out


def engine_metrics(log: EventLog, windows, cores: int) -> dict:
    """Engine totals over the jobs attributed to ``windows``.
    ``core_busy_frac`` and ``driver_only_s`` use the summed window
    length as the wall time (windows are the serial query executions
    of one pass)."""
    job_of = attribute_jobs(log, windows)
    stage_job = {}
    for job_id in job_of:
        for st in log.jobs[job_id][2]:
            stage_job.setdefault(st, job_id)
    tasks = [t for t in log.tasks if t.stage in stage_job]
    wall = sum(end - start for _, _, start, end in windows)
    busy = 0.0
    for _, _, start, end in windows:
        busy += union_length(
            (max(start, t.launch_ms / 1000), min(end, t.finish_ms / 1000))
            for t in tasks
            if t.finish_ms / 1000 > start and t.launch_ms / 1000 < end
        )
    run_s = sum(t.run_ms for t in tasks) / 1000
    return {
        "jobs": len(job_of),
        "stages": len({t.stage for t in tasks}),
        "tasks": len(tasks),
        "tasks_failed_frac": sum(t.failed for t in tasks) / len(tasks) if tasks else 0.0,
        "executor_run_s": run_s,
        "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000,
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MB,
        "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / MB,
        "spill_disk_mb": sum(t.spill_disk for t in tasks) / MB,
        "input_mb": sum(t.input_bytes for t in tasks) / MB,
        "output_mb": sum(t.output_bytes for t in tasks) / MB,
        "jvm_heap_peak_mb": max((t.heap_peak for t in tasks), default=0) / MB,
        "core_busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "driver_only_s": wall - busy,
    }
