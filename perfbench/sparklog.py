"""Read Spark's event log into per-job costs and streaming progress.

Enable the log with ``eventlog_conf(dir)`` when the session is built; it is
complete once the SparkContext has stopped. Jobs carry the local properties
that were set when they started (``layers.SPAN_PROPERTY``); tasks are tied
to jobs through their stage. Streaming progress comes from the
``StreamingQueryListener`` events (``QueryProgressEvent``) the listener bus
records in the same log.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

PY_RUN_METRIC = "time to run Python workers"  # SQL metric, milliseconds
PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"

TASK_FIELDS = (
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_eval_s",
)


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float
    span: str | None
    stages: list[int]
    cost: dict[str, float] = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))


@dataclass
class EventLog:
    jobs: list[Job]
    progress: list[dict]  # StreamingQueryProgress JSON, in log order


def _task_cost(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    py_ms = sum(
        float(a.get("Update") or 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables", [])
        if a.get("Name") == PY_RUN_METRIC
    )
    return {
        "tasks": 1.0,
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": float(rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)),
        "shuffle_write_bytes": float(wr.get("Shuffle Bytes Written", 0)),
        "spill_bytes": float(m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
        "python_eval_s": py_ms / 1e3,
    }


def parse_lines(lines) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    progress: list[dict] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(
                id=ev["Job ID"],
                submit=ev["Submission Time"] / 1e3,
                end=ev["Submission Time"] / 1e3,
                span=(ev.get("Properties") or {}).get("perfbench.span"),
                stages=list(ev.get("Stage IDs", [])),
            )
            jobs[job.id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is not None:
                for k, v in _task_cost(ev).items():
                    job.cost[k] += v
        elif kind == PROGRESS_EVENT:
            progress.append(ev["progress"])
    return EventLog(sorted(jobs.values(), key=lambda j: j.id), progress)


def read(log_dir: str) -> EventLog:
    """Parse every event-log file under ``log_dir`` (plain or rolling)."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )
    lines = (line for f in files for line in open(f) if line.strip())
    return parse_lines(lines)


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def progress_totals(progress: list[dict]) -> dict[str, float]:
    """Sum the micro-batch phases and state-operator figures of the given
    ``StreamingQueryProgress`` records."""
    out = {
        "stream.batches": 0.0,
        "stream.input_rows": 0.0,
        "stream.trigger_s": 0.0,
        "stream.latest_offset_s": 0.0,
        "stream.get_batch_s": 0.0,
        "stream.planning_s": 0.0,
        "stream.add_batch_s": 0.0,
        "stream.wal_commit_s": 0.0,
        "stream.commit_offsets_s": 0.0,
        "state.rows_total": 0.0,
        "state.commit_s": 0.0,
        "state.memory_bytes": 0.0,
        "state.partitions": 0.0,
    }
    phases = {
        "triggerExecution": "stream.trigger_s",
        "latestOffset": "stream.latest_offset_s",
        "getBatch": "stream.get_batch_s",
        "queryPlanning": "stream.planning_s",
        "addBatch": "stream.add_batch_s",
        "walCommit": "stream.wal_commit_s",
        "commitOffsets": "stream.commit_offsets_s",
    }
    for p in progress:
        out["stream.batches"] += 1
        # the event log keeps the rows read per source only
        out["stream.input_rows"] += sum(
            src.get("numInputRows", 0) for src in p.get("sources") or []
        )
        for k, name in phases.items():
            out[name] += (p.get("durationMs") or {}).get(k, 0) / 1e3
        for op in p.get("stateOperators") or []:
            out["state.rows_total"] += op.get("numRowsTotal", 0)
            out["state.commit_s"] += op.get("commitTimeMs", 0) / 1e3
            out["state.memory_bytes"] += op.get("memoryUsedBytes", 0)
            out["state.partitions"] += op.get("numShufflePartitions", 0)
    return out
