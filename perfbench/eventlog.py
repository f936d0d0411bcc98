"""Per-layer engine numbers from Spark's event log.

The traced run turns on ``spark.eventLog.enabled`` and sets one job
group per span (trace.Tracer), so every job, stage and task in the log
maps back to the layer call that launched it. Read the log after
``spark.stop()``: the writer flushes on stop.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

JOB_START = "SparkListenerJobStart"
STAGE_DONE = "SparkListenerStageCompleted"
TASK_END = "SparkListenerTaskEnd"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    overhead_ms: int  # deserialize + result serialization + fetch result
    gc_ms: int
    spill_bytes: int
    shuffle_write_bytes: int

    @property
    def sched_delay_ms(self) -> int:
        return max(0, self.finish_ms - self.launch_ms - self.run_ms - self.overhead_ms)


@dataclass
class EventLog:
    job_group: dict[int, str | None] = field(default_factory=dict)
    job_exec: dict[int, int | None] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stage_tasks: dict[int, int] = field(default_factory=dict)  # completed stages
    tasks: list[Task] = field(default_factory=list)
    plans: dict[int, dict] = field(default_factory=dict)  # execution id -> last plan
    driver_accums: dict[int, int] = field(default_factory=dict)  # accumulator id -> value
    stream_jobs: set[int] = field(default_factory=set)  # launched by a streaming query
    job_batch: dict[int, str] = field(default_factory=dict)  # micro-batch id of a stream job


def read(log_dir: str) -> EventLog:
    log = EventLog()
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                _ingest(log, json.loads(line))
    return log


def _ingest(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event")
    if kind == JOB_START:
        props = ev.get("Properties") or {}
        job = ev["Job ID"]
        log.job_group[job] = props.get("spark.jobGroup.id")
        exec_id = props.get("spark.sql.execution.id")
        log.job_exec[job] = int(exec_id) if exec_id is not None else None
        if props.get("sql.streaming.queryId"):
            log.stream_jobs.add(job)
            log.job_batch[job] = props.get("streaming.sql.batchId")
        for s in ev.get("Stage IDs", ()):
            log.stage_job.setdefault(s, job)
    elif kind == STAGE_DONE:
        info = ev["Stage Info"]
        log.stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
    elif kind == TASK_END:
        ti, tm = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
        if not tm:
            return
        got = ti.get("Getting Result Time") or 0
        log.tasks.append(
            Task(
                stage=ev["Stage ID"],
                launch_ms=ti["Launch Time"],
                finish_ms=ti["Finish Time"],
                run_ms=tm.get("Executor Run Time", 0),
                overhead_ms=tm.get("Executor Deserialize Time", 0)
                + tm.get("Result Serialization Time", 0)
                + (ti["Finish Time"] - got if got else 0),
                gc_ms=tm.get("JVM GC Time", 0),
                spill_bytes=tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0),
                shuffle_write_bytes=(tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
            )
        )
    elif kind in (SQL_START, SQL_AQE):
        log.plans[ev["executionId"]] = ev["sparkPlanInfo"]
    elif kind == DRIVER_ACCUMS:
        for acc_id, value in ev["accumUpdates"]:
            log.driver_accums[acc_id] = max(value, log.driver_accums.get(acc_id, 0))


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    single_task_stages: int = 0
    shuffle_bytes: int = 0
    files_read: int = 0


def group_stats(log: EventLog, groups: set[str]) -> GroupStats:
    """Jobs, completed stages, tasks and bytes launched under the given
    job groups (one per span)."""
    out = job_stats(log, {j for j, g in log.job_group.items() if g in groups})
    out.files_read = sum(
        log.driver_accums.get(a, 0)
        for e in _execs(log, groups)
        for a in _metric_ids(log.plans.get(e, {}), "number of files read")
    )
    return out


def job_stats(log: EventLog, jobs: set[int]) -> GroupStats:
    """Completed stages, tasks and shuffle bytes of the given jobs."""
    out = GroupStats()
    out.jobs = len(jobs)
    stages = {s for s, j in log.stage_job.items() if j in jobs and s in log.stage_tasks}
    out.stages = len(stages)
    out.single_task_stages = sum(1 for s in stages if log.stage_tasks[s] == 1)
    for t in log.tasks:
        if t.stage in stages:
            out.tasks += 1
            out.shuffle_bytes += t.shuffle_write_bytes
    return out


def _execs(log: EventLog, groups: set[str]) -> set[int]:
    return {
        e
        for j, e in log.job_exec.items()
        if e is not None and log.job_group.get(j) in groups
    }


def _metric_ids(node: dict, name: str) -> list[int]:
    ids = [m["accumulatorId"] for m in node.get("metrics", ()) if m.get("name") == name]
    for c in node.get("children", ()):
        ids += _metric_ids(c, name)
    return ids


def _scans(node: dict, needle: str) -> int:
    n = 0
    loc = (node.get("metadata") or {}).get("Location", "")
    if node.get("nodeName", "").startswith("Scan") and needle in loc:
        n += 1
    for c in node.get("children", ()):
        n += _scans(c, needle)
    return n


def scans_of(log: EventLog, groups: set[str], path: str) -> int:
    """File-scan nodes reading ``path`` in the SQL executions launched
    under the given job groups (last adaptive plan of each)."""
    return sum(_scans(log.plans[e], path) for e in _execs(log, groups) if e in log.plans)


def engine_stats(log: EventLog, windows: list[tuple[float, float]], cores: int) -> dict:
    """Whole-engine shares over the tasks launched inside the timed
    windows (epoch ms)."""
    ts = [t for t in log.tasks if any(a <= t.launch_ms <= b for a, b in windows)]
    wall = max(1.0, sum(b - a for a, b in windows))
    run = sum(t.run_ms for t in ts)
    dur = sum(t.finish_ms - t.launch_ms for t in ts)
    return {
        "spark.busy_share": run / (wall * cores),
        "spark.scheduler_delay_share": (
            sum(t.sched_delay_ms for t in ts) / dur if dur else 0.0
        ),
        "spark.spill_bytes": float(sum(t.spill_bytes for t in ts)),
        "spark.gc_share": sum(t.gc_ms for t in ts) / run if run else 0.0,
    }
