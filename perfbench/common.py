"""Shared helpers: statistics, spans, process memory, setup timing and
the run stamp."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------ statistics


def pct(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    return float(np.percentile(np.asarray(values, dtype=float), p))


def tail(values: list[float]) -> dict:
    """The highest whole percentile (not below p50) that has at least
    ten samples beyond it, with the sample count and the samples
    beyond, so a reader can judge how much to trust it."""
    for p in range(99, 49, -1):
        v = pct(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= 10 or p == 50:
            return {"pct": p, "value": v, "n": len(values), "beyond": beyond}


def sum_of_medians(samples: dict[str, list[float]]) -> float:
    return float(sum(statistics.median(v) for v in samples.values() if v))


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans: name, start, end, parent and run id (epoch
    seconds, so they line up with the Spark event log).  A disabled
    tracer records nothing and costs one branch per span."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Σ self time (wall minus children) per span-name prefix."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            kind = s["name"].split(":", 1)[0]
            out[kind] = out.get(kind, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f)


# ---------------------------------------------------------- process facts


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def seconds_since_process_start() -> float:
    """Wall since this process was created (kernel start time, 10 ms
    ticks), so interpreter start-up counts toward set-up time."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def stamp(spark=None) -> dict:
    """Machine and build facts stamped into every result."""
    out: dict = {"nproc": cpu_count(), "loadavg_1m": round(os.getloadavg()[0], 2)}
    try:
        sys.path.insert(0, ROOT)
        from tools.canary import canary

        out["canary"] = canary()
    except Exception as e:  # a checkout without tools/ still runs
        out["canary"] = f"unavailable: {type(e).__name__}"
    try:
        git = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
        # a checkout without .git inside some other repository is not that repository
        ok = len(git) == 2 and os.path.realpath(git[0]) == os.path.realpath(ROOT)
        out["git_commit"] = git[1] if ok else "unknown (not a git checkout)"
    except OSError:
        out["git_commit"] = "unknown (git unavailable)"
    # identifies the engine's code when there is no git metadata
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "processor_spark"))):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    out["engine_sha256"] = h.hexdigest()
    if spark is not None:
        import pyspark

        out["master"] = spark.sparkContext.master
        out["pyspark"] = pyspark.__version__
    return out
