"""Read Spark's own event log with the standard library only.

The session writes one uncompressed JSON-lines event log file per
application (``spark.eventLog.enabled``, ``spark.eventLog.compress``
false, rolling off: the launcher's settings).

Jobs are attributed to benchmark operations by submission time: with
one sequential client every job an operation causes is submitted
between the operation's start and end, so the attribution is exact.
(Job groups cannot be used for this: the gateway resets the job group
after each call.)
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class StageStats:
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    submitted_stages: set[int] = field(default_factory=set)
    stages: dict[int, StageStats] = field(default_factory=dict)
    stage_owner: dict[int, int] = field(default_factory=dict)
    cores: int | None = None


def read_event_log(log_dir: str | Path) -> EventLog:
    """Parse every event log file in ``log_dir`` (one application)."""
    log = EventLog()
    for path in sorted(p for p in Path(log_dir).iterdir()
                       if p.is_file() and not p.name.startswith(".")):
        with path.open("r", encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an in-progress log
                _apply(log, ev)
    # a stage belongs to the first job that lists it and ran it; later
    # jobs listing it reuse its output
    for job_id in sorted(log.jobs):
        for sid in log.jobs[job_id].stage_ids:
            if sid in log.submitted_stages:
                log.stage_owner.setdefault(sid, job_id)
    return log


def _apply(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        job = Job(ev["Job ID"], ev["Submission Time"],
                  stage_ids=list(ev.get("Stage IDs") or []))
        log.jobs[job.job_id] = job
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(ev["Job ID"])
        if job is not None:
            job.end_ms = ev.get("Completion Time")
    elif kind == "SparkListenerStageSubmitted":
        log.submitted_stages.add(ev["Stage Info"]["Stage ID"])
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        st = log.stages.setdefault(ev["Stage ID"], StageStats())
        st.tasks += 1
        st.executor_run_ms += m.get("Executor Run Time", 0)
        st.executor_cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
    elif kind == "SparkListenerExecutorAdded":
        info = ev.get("Executor Info") or {}
        log.cores = (log.cores or 0) + int(info.get("Total Cores", 0))


@dataclass
class OpSpark:
    """Spark-side work attributed to one operation."""
    jobs: int = 0
    stages: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_s: float = 0.0  # union of job intervals clipped to the op


def attribute(log: EventLog, start_ms: float, end_ms: float) -> OpSpark:
    """Aggregate the jobs submitted in ``[start_ms, end_ms]``.

    ``stages`` counts the distinct stages those jobs list. A listed stage
    that none of them ran, because it never ran or because its output
    came from a job outside the window, counts as skipped. Shuffle
    output reused between jobs of the same operation is not a skip: the
    operation computed it itself."""
    out = OpSpark()
    jobs = [j for j in log.jobs.values()
            if start_ms <= j.submit_ms <= end_ms]
    ids = {j.job_id for j in jobs}
    listed = {sid for j in jobs for sid in j.stage_ids}
    owner = log.stage_owner
    ran = {sid for sid in listed if owner.get(sid) in ids}
    out.jobs = len(jobs)
    out.stages = len(listed)
    out.stages_skipped = len(listed - ran)
    for sid in ran:
        st = log.stages.get(sid)
        if st is None:
            continue
        out.tasks += st.tasks
        out.executor_run_s += st.executor_run_ms / 1e3
        out.executor_cpu_s += st.executor_cpu_ns / 1e9
        out.gc_s += st.gc_ms / 1e3
        out.input_bytes += st.input_bytes
        out.shuffle_write_bytes += st.shuffle_write_bytes
        out.spill_bytes += st.spill_bytes
    out.job_s = _union_ms([(j.submit_ms, min(j.end_ms or end_ms, end_ms))
                           for j in jobs]) / 1e3
    return out


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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
