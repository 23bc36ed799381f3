"""Per-layer report of a traced run.

Each traced invocation (a key call, or a stream drain) is split into
its layers from outside the library: the benchmark's own spans, the
Spark jobs of the span's job group in the event log, the Catalyst
phase tracker of the materialized DataFrame, and the stream listener's
per-trigger progress.  Additive numbers are reported like ``suite_s``:
the median over a unit's traced invocations, summed over units (keys
or pipelines).  Layers a workload leaves idle report 0.
"""

from __future__ import annotations

import os
import statistics

from perfbench import eventlog

# |traced layer sum − untraced wall| / untraced wall: per unit (one
# call each side, so machine noise dominates) and over the whole suite
RECONCILE_TOL = {"unit": 0.30, "suite": 0.15}

UNITS = {
    "session.build_s": "s", "registry.load_s": "s",
    "build_s.sum": "s", "build_s.p50": "s", "build.share": "frac", "build.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "action.jobs": "count", "action.stages": "count", "action.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.input_bytes": "bytes", "exec.input_records": "count", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.outside_stage_s": "s", "exec.slot_busy_frac": "frac", "exec.task_skew": "ratio",
    "materialize_s": "s", "result_rows": "count",
    "stream.triggers": "count", "stream.start_s": "s", "stream.idle_s": "s",
    "stream.getBatch_ms": "ms", "stream.queryPlanning_ms": "ms", "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms", "stream.commitOffsets_ms": "ms",
    "stream.state_rows": "count", "stream.state_memory_bytes": "bytes",
    "stream.state_commit_ms": "ms", "stream.rows_dropped_by_watermark": "count",
    "stream.empty_trigger_frac": "frac",
    "sink.batch_s": "s", "lakehouse.append_s": "s", "lakehouse.merge_s": "s",
    "lakehouse.commits": "count", "lakehouse.commit_conflicts": "count",
    "trace.overhead_s": "s", "trace.reconcile_err": "frac",
}
EXEC = ("task_run_ms", "task_cpu_ms", "gc_ms", "input_bytes", "input_records", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "outside_stage_s")


def _query_layers(rec: dict, jobs_by_group: dict, stages: dict, cores: int) -> dict:
    build_jobs = jobs_by_group.get(rec["build_group"], [])
    action_jobs = jobs_by_group.get(rec["action_group"], [])
    ex = eventlog.exec_metrics(action_jobs, stages, rec["action_span"], cores)
    a0, a1 = rec["action_span"]
    last = ex["last_job_end"] if action_jobs else a0
    out = {
        "build_s": rec["build_s"], "build.jobs": len(build_jobs),
        "action.jobs": ex["jobs"], "action.stages": ex["stages"], "action.tasks": ex["tasks"],
        "action_s": max(last - a0, 0.0), "materialize_s": max(a1 - last, 0.0),
        "result_rows": rec["rows"], "slot_busy_ms": ex["slot_busy_ms"], "slot_ms": ex["slot_ms"],
        "task_skew": ex["task_skew"],
        **{f"exec.{k}": ex[k] for k in EXEC},
        **{f"catalyst.{k}_ms": rec["catalyst"].get(k, 0.0)
           for k in ("analysis", "optimization", "planning")},
    }
    out["layer_sum"] = out["build_s"] + out["action_s"] + out["materialize_s"]
    return out


def _drain_layers(rec: dict, jobs_by_group: dict, stages: dict, cores: int) -> dict:
    prog = rec["progress"]
    runs = {p["run_id"] for p in prog}
    jobs = [j for r in runs for j in jobs_by_group.get(r, [])]
    ex = eventlog.exec_metrics(jobs, stages, rec["epoch"], cores)
    trig_ms = sum(p["ms"].get("triggerExecution", 0) for p in prog)
    ops = {"create": 0.0, "append": 0.0, "merge": 0.0}
    for s in rec["sinks"]:
        if s["op"]:
            ops[s["op"]] += s["op_s"]
    out = {
        "build_s": rec["build_s"], "build.jobs": 0,
        "action.jobs": ex["jobs"], "action.stages": ex["stages"], "action.tasks": ex["tasks"],
        "slot_busy_ms": ex["slot_busy_ms"], "slot_ms": ex["slot_ms"], "task_skew": ex["task_skew"],
        **{f"exec.{k}": ex[k] for k in EXEC},
        "result_rows": rec["rows"],
        "stream.triggers": len(prog),
        "stream.start_s": (prog[0]["start"] - rec["epoch"][0]) if prog else 0.0,
        "stream.idle_s": rec["wall"] - trig_ms / 1000.0,
        "stream.state_rows": prog[-1]["state_rows"] if prog else 0,
        "stream.state_memory_bytes": prog[-1]["state_mem"] if prog else 0,
        "stream.state_commit_ms": sum(p["state_commit_ms"] for p in prog),
        "stream.rows_dropped_by_watermark": sum(p["dropped"] for p in prog),
        "empty_triggers": sum(1 for p in prog if p["rows"] == 0),
        "sink.batch_s": sum(s["sink_s"] for s in rec["sinks"]),
        "lakehouse.append_s": ops["create"] + ops["append"],
        "lakehouse.merge_s": ops["merge"],
        "lakehouse.commits": rec["commits"],
        "lakehouse.commit_conflicts": sum(s["conflicts"] for s in rec["sinks"]),
    }
    for part in ("getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
        out[f"stream.{part}_ms"] = sum(p["ms"].get(part, 0) for p in prog)
    out["layer_sum"] = rec["build_s"] + rec["wall"]
    return out


def per_layer(res: dict, setup: dict, log_dir: str, app_id: str,
              cores: int, tracer) -> dict:
    jobs, stages = eventlog.parse(os.path.join(log_dir, f"eventlog_v2_{app_id}")
                                  if os.path.isdir(os.path.join(log_dir, f"eventlog_v2_{app_id}"))
                                  else log_dir)
    by_group: dict[str, list] = {}
    for j in jobs.values():
        by_group.setdefault(j.group, []).append(j)
    layer_fn = _query_layers if res["units"] == "keys" else _drain_layers
    per_unit: dict[str, list[dict]] = {}
    for rec in res["traced"]:
        unit = rec.get("key") or rec["pipeline"]
        per_unit.setdefault(unit, []).append(layer_fn(rec, by_group, stages, cores) | {"wall": rec["wall"]})
        _job_spans(tracer, rec, by_group, stages)

    def summed(name: str) -> float:
        return float(sum(statistics.median(r.get(name, 0) for r in rs) for rs in per_unit.values()))

    all_recs = [r for rs in per_unit.values() for r in rs]
    traced_suite = summed("wall")
    untraced = {u: statistics.median(w) for u, w in res["untraced_walls"].items() if w}
    errs = {u: abs(statistics.median(r["layer_sum"] for r in rs) - untraced[u]) / untraced[u]
            for u, rs in per_unit.items() if u in untraced}
    m: dict[str, float] = {
        "session.build_s": setup["session.build_s"],
        "registry.load_s": setup["registry.load_s"],
        "build_s.sum": summed("build_s"),
        "build_s.p50": statistics.median(r["build_s"] for r in all_recs) if all_recs else 0.0,
        "build.share": summed("build_s") / traced_suite if traced_suite else 0.0,
        "exec.slot_busy_frac": summed("slot_busy_ms") / max(summed("slot_ms"), 1.0),
        "exec.task_skew": max((r["task_skew"] for r in all_recs), default=0.0),
        "stream.empty_trigger_frac": summed("empty_triggers") / max(summed("stream.triggers"), 1.0),
        "trace.overhead_s": traced_suite - sum(untraced.values()),
        "trace.reconcile_err": abs(summed("layer_sum") - sum(untraced.values()))
        / max(sum(untraced.values()), 1e-9),
    }
    for name in UNITS:
        if name not in m:
            m[name] = summed(name)
    return {
        "metrics": {k: (float(m[k]), UNITS[k]) for k in UNITS},
        "detail": {
            "traced_invocations": len(all_recs),
            "reconcile_tolerance": RECONCILE_TOL,
            "reconcile_err_by_unit": errs,
            "units_within_tolerance": sum(1 for e in errs.values() if e <= RECONCILE_TOL["unit"]),
            "suite_within_tolerance": m["trace.reconcile_err"] <= RECONCILE_TOL["suite"],
            "units": len(errs),
            "traced_suite_s": traced_suite,
            "untraced_suite_s": sum(untraced.values()),
            "event_log_jobs": len(jobs),
        },
    }


def _job_spans(tracer, rec: dict, by_group: dict, stages: dict) -> None:
    """job → stage spans under the invocation's build/action span."""
    groups = ([(rec["build_group"], rec.get("build_span_id")), (rec["action_group"], rec.get("action_span_id"))]
              if "build_group" in rec else [(r, rec.get("span_id")) for r in {p["run_id"] for p in rec["progress"]}])
    for group, parent in groups:
        for j in by_group.get(group, []):
            js = {"id": len(tracer.spans), "name": f"job:{j.jid}", "run": tracer.run_id,
                  "parent": parent, "start": j.submit / 1000.0, "end": (j.done or j.submit) / 1000.0}
            tracer.spans.append(js)
            for sid in j.stages:
                st = stages.get(sid)
                if st and st.submit and st.done:
                    tracer.spans.append({"id": len(tracer.spans), "name": f"stage:{sid}",
                                         "run": tracer.run_id, "parent": js["id"],
                                         "start": st.submit / 1000.0, "end": st.done / 1000.0})
