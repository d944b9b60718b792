"""Spark event-log parser: per-op ``spark.*`` metrics.

The traced run enables Spark's JSON event log (uncompressed) and the
benchmark records one span ``(kind, start_ms, end_ms)`` per timed op.
Jobs are assigned to ops by time span: a job belongs to the op whose
span contains the job's submission time. Job groups cannot be used,
because jobs launched from pool threads and from the stream thread do
not carry the caller's job group.

Stages are assigned the same way, by their own submission time, so a
shuffle stage that an earlier op ran and a later job lists as skipped
counts once, where it ran. Per op the parser reports jobs, stages
that ran, tasks, executor run and CPU time, shuffle bytes
written and read, bytes spilled, JVM GC time, and the driver gap: the
op's wall time minus the union of its jobs' [submit, complete]
intervals clipped to the span.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None


@dataclass
class StageTotals:
    submit_ms: int | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTotals] = field(default_factory=dict)


def parse_lines(lines) -> EventLog:
    """Fold event-log JSON lines into jobs and per-stage task totals.
    Stage attempts are merged: a retried stage's tasks all count."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"])
            log.jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind in ("SparkListenerStageSubmitted",
                      "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], StageTotals())
            if st.submit_ms is None:
                st.submit_ms = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], StageTotals())
            st.tasks += 1
            m = ev.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_b += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
            st.spill_b += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
    return log


def _log_order(name: str) -> tuple[int, str]:
    """Rolling (v2) logs are ``events_<index>_<appId>``; read in index
    order. A single-file (v1) log sorts after them by name."""
    parts = name.split("_")
    if parts[0] == "events" and len(parts) > 2 and parts[1].isdigit():
        return int(parts[1]), name
    return 1 << 30, name


def log_files(path: str) -> list[str]:
    """Event-log files under ``path``: a v2 ``eventlog_v2_<appId>/``
    directory of rolling ``events_*`` files, or v1 single files."""
    out = []
    for root, _dirs, names in os.walk(path):
        for name in sorted(names, key=_log_order):
            if name.startswith((".", "appstatus")) or name.endswith(".crc"):
                continue
            out.append(os.path.join(root, name))
    return out


def parse_dir(path: str) -> EventLog:
    """Parse every event-log file under ``path``."""
    lines: list[str] = []
    for full in log_files(path):
        with open(full) as f:
            lines.extend(f)
    return parse_lines(lines)


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length of the union of half-open intervals."""
    total, cur_s, cur_e = 0, None, None
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


@dataclass
class Span:
    kind: str
    start_ms: float
    end_ms: float


OP_METRICS = ("spark.jobs", "spark.stages", "spark.tasks",
              "spark.driver_gap_s", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.shuffle_write_mb",
              "spark.shuffle_read_mb", "spark.spill_mb", "spark.gc_s")


def per_op(log: EventLog, spans: list[Span]) -> list[dict]:
    """One metrics dict per span (in span order), with ``kind``."""
    out = []
    for sp in spans:
        jobs = [j for j in log.jobs.values()
                if sp.start_ms <= j.submit_ms <= sp.end_ms]
        ran = [s for s in log.stages.values()
               if s.submit_ms is not None
               and sp.start_ms <= s.submit_ms <= sp.end_ms]
        busy = union_ms([
            (j.submit_ms, min(j.end_ms if j.end_ms is not None else sp.end_ms,
                              sp.end_ms))
            for j in jobs])
        wall = sp.end_ms - sp.start_ms
        out.append({
            "kind": sp.kind,
            "spark.jobs": len(jobs),
            "spark.stages": len(ran),
            "spark.tasks": sum(s.tasks for s in ran),
            "spark.driver_gap_s": max(0.0, wall - busy) / 1000.0,
            "spark.executor_run_s": sum(s.run_ms for s in ran) / 1000.0,
            "spark.executor_cpu_s": sum(s.cpu_ns for s in ran) / 1e9,
            "spark.shuffle_write_mb": sum(s.shuffle_write_b for s in ran) / MB,
            "spark.shuffle_read_mb": sum(s.shuffle_read_b for s in ran) / MB,
            "spark.spill_mb": sum(s.spill_b for s in ran) / MB,
            "spark.gc_s": sum(s.gc_ms for s in ran) / 1000.0,
        })
    return out
