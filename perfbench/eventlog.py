"""Fold a Spark event log into per-span job / stage / task figures.

The benchmark turns the event log on (uncompressed, not rolling) through
the session's ``extra_conf`` and tags every job it causes with two local
properties: ``perfbench.span`` (the benchmark call that caused the job) and
``perfbench.fn`` (the innermost traced package function on the Python stack
when the job was submitted).  Jobs carry their submitting thread's local
properties into ``SparkListenerJobStart``; stages and tasks are attributed
to the first job that lists their stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
FN_PROP = "perfbench.fn"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that writes one plain JSON-lines log into ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    input_bytes: int
    output_bytes: int
    output_rows: int


@dataclass
class Stage:
    stage_id: int
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    span: str
    fn: str
    stages: list[Stage] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.submit_ms) / 1000.0

    def tasks(self) -> list[Task]:
        return [t for s in self.stages for t in s.tasks]


def _task(ev: dict) -> Task | None:
    m = ev.get("Task Metrics")
    info = ev["Task Info"]
    if m is None:
        return None
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    out = m.get("Output Metrics", {})
    return Task(
        stage=ev["Stage ID"],
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Disk Bytes Spilled", 0),
        input_bytes=inp.get("Bytes Read", 0),
        output_bytes=out.get("Bytes Written", 0),
        output_rows=out.get("Records Written", 0),
    )


def find_log(log_dir: str) -> str:
    """The single finished log file of a stopped application."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return logs[0]


def read_jobs(path: str) -> list[Job]:
    """Jobs of one application with their stages and tasks, in job order."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_owner: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    job_id=ev["Job ID"],
                    submit_ms=ev["Submission Time"],
                    end_ms=ev["Submission Time"],
                    span=props.get(SPAN_PROP, ""),
                    fn=props.get(FN_PROP, ""),
                )
                jobs[job.job_id] = job
                for sid in ev["Stage IDs"]:
                    stage_owner.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.submit_ms = info.get("Submission Time", 0)
                st.complete_ms = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                t = _task(ev)
                if t is not None:
                    stages.setdefault(t.stage, Stage(t.stage)).tasks.append(t)
    for sid, st in stages.items():
        owner = stage_owner.get(sid)
        if owner is not None:
            jobs[owner].stages.append(st)
    return [jobs[k] for k in sorted(jobs)]


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fold(jobs: list[Job], wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` figures of a set of jobs measured over ``wall_s``."""
    tasks = [t for j in jobs for t in j.tasks()]
    stages = [s for j in jobs for s in j.stages]
    run_s = sum(t.run_ms for t in tasks) / 1000.0
    cpu_s = sum(t.cpu_ns for t in tasks) / 1e9
    skew = 0.0
    timed = [s for s in stages if s.tasks]
    if timed:
        longest = max(timed, key=lambda s: s.complete_ms - s.submit_ms)
        durs = [t.finish_ms - t.launch_ms for t in longest.tasks]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "spark.jobs": float(len(jobs)),
        "spark.job_s_p50": statistics.median(j.seconds for j in jobs) if jobs else 0.0,
        "spark.stages": float(len(stages)),
        "spark.tasks": float(len(tasks)),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": cpu_s,
        "spark.task_noncpu_s": max(run_s - cpu_s, 0.0),
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "spark.shuffle_read_bytes": float(sum(t.shuffle_read for t in tasks)),
        "spark.shuffle_write_bytes": float(sum(t.shuffle_write for t in tasks)),
        "spark.spill_bytes": float(sum(t.spill for t in tasks)),
        "spark.input_bytes": float(sum(t.input_bytes for t in tasks)),
        "spark.output_bytes": float(sum(t.output_bytes for t in tasks)),
        "spark.output_rows": float(sum(t.output_rows for t in tasks)),
        "spark.slot_util": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.max_task_skew": skew,
    }
