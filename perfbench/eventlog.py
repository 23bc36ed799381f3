"""Stdlib parser for Spark's JSON event log (uncompressed, possibly
rolled into several ``events_<n>_<app>`` files).

Jobs are mapped to benchmark spans through their ``spark.jobGroup.id``
property; stages and tasks hang off their jobs.  All times are epoch
milliseconds, as Spark writes them.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    sid: int
    submit: int | None = None
    done: int | None = None
    tasks: list[dict] = field(default_factory=list)


@dataclass
class Job:
    jid: int
    group: str | None
    submit: int
    done: int | None = None
    stages: list[int] = field(default_factory=list)


def _files(log_dir: str) -> list[str]:
    out = []
    for root, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith("events_") or n.startswith("local-"):
                out.append(os.path.join(root, n))

    def order(p: str):
        parts = os.path.basename(p).split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    return sorted(out, key=order)


def parse(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for path in _files(log_dir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of an in-progress file
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"],
                        stages=list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].done = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    st.submit = info.get("Submission Time")
                    st.done = info.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    ti = ev["Task Info"]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"])).tasks.append({
                        "dur": ti["Finish Time"] - ti["Launch Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "in_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "in_rec": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        "sr_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "sw_b": sw.get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    return jobs, stages


def _union_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def exec_metrics(jobs: list[Job], stages: dict[int, Stage], wall: tuple[float, float], cores: int) -> dict:
    """Execution-layer numbers for the jobs of one span whose wall is
    ``wall`` (epoch seconds)."""
    lo, hi = int(wall[0] * 1000), int(wall[1] * 1000)
    st = [stages[s] for j in jobs for s in j.stages if s in stages and stages[s].tasks]
    tasks = [t for s in st for t in s.tasks]
    covered = _union_ms([(s.submit, s.done) for s in st if s.submit and s.done], lo, hi)
    run_ms = sum(t["run_ms"] for t in tasks)
    skew = 0.0
    for s in st:
        durs = [t["dur"] for t in s.tasks]
        med = statistics.median(durs)
        if len(durs) > 1 and med > 0:
            skew = max(skew, max(durs) / med)
    wall_ms = max(hi - lo, 1)
    return {
        "jobs": len(jobs),
        "stages": len(st),
        "tasks": len(tasks),
        "task_run_ms": run_ms,
        "task_cpu_ms": sum(t["cpu_ms"] for t in tasks),
        "gc_ms": sum(t["gc_ms"] for t in tasks),
        "input_bytes": sum(t["in_b"] for t in tasks),
        "input_records": sum(t["in_rec"] for t in tasks),
        "shuffle_read_bytes": sum(t["sr_b"] for t in tasks),
        "shuffle_write_bytes": sum(t["sw_b"] for t in tasks),
        "spill_bytes": sum(t["spill_b"] for t in tasks),
        "outside_stage_s": (wall_ms - covered) / 1000.0,
        "slot_busy_ms": run_ms,
        "slot_ms": wall_ms * cores,
        "task_skew": skew,
        "last_job_end": max((j.done or 0 for j in jobs), default=0) / 1000.0,
    }
