"""``event-ingest``: the event side, and the only workload that writes.

A seeded event log (5k events replicated twice with shifted ids: the
sf0.01 size of 10k events and 150 users), split into event-time ordered
chunk files with out-of-order, late and duplicate deliveries
(``gen.write_event_log``), is drained with availableNow by the engine's
own ``run_foreach_batch_ckpt`` through three pipelines: tumbling
windows, dedup, and the ``applyInPandasWithState`` running totals.
Each micro-batch is written to a lakehouse table:
``LakeTable.create`` for the first batch, then ``LakeTable.append``,
or ``LakeTable.merge`` on ``user_id`` for the running totals.

Closed loop, one client: every drain starts on a fresh checkpoint and
table once the previous drain returned; the pipeline order is permuted
per pass by the seed.  A small log first warms every pipeline.  After
each drain, outside the timed region, the table is read back and
checked against the batch twin of the events the stream accepts:

- tumbling windows: exactly the batch rows whose window the final
  watermark closed, each equal to its batch row (prefix-of-batch);
- dedup: exactly the distinct accepted event ids, once each;
- running totals: the last upsert per user equals the batch totals.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from datetime import datetime

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.common import Tracer, pct, sum_of_medians, tail

REPLICAS, CHUNKS = 2, 3  # 10k events, 150 users (sf0.01) in 3 chunk files
BASE_EVENTS, BASE_USERS = 5_000, 75
WARM = {"replicas": 1, "chunks": 2, "base_events": 1_500, "users": 30}
DRAIN_TIMEOUT_S = 90

PIPELINES = {  # name → (output mode, lakehouse key, lakehouse commit op)
    "tumbling_counts": ("append", "event_type", "append"),
    "dedup_events": ("append", "event_id", "append"),
    "running_totals": ("update", "user_id", "merge"),
}


def _iso_us(ts: str | None) -> int | None:
    if not ts:
        return None
    return int(round(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1_000_000))


class ProgressListener:
    """Collects per-trigger progress of every stream query (Structured
    Streaming's public progress API), keyed by query id."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.started: list[str] = []
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()
        self.cv = threading.Condition()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, e):
                with outer.cv:
                    outer.started.append(str(e.id))
                    outer.cv.notify_all()

            def onQueryProgress(self, e):
                p = e.progress
                ops = p.stateOperators or []
                rec = {
                    "batch": p.batchId, "run_id": str(p.runId),
                    "start": _iso_us(p.timestamp) / 1e6,
                    "rows": p.numInputRows, "ms": dict(p.durationMs),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_mem": sum(o.memoryUsedBytes for o in ops),
                    "state_commit_ms": sum(o.commitTimeMs for o in ops),
                    "dropped": sum(o.numRowsDroppedByWatermark for o in ops),
                    "watermark_us": _iso_us((p.eventTime or {}).get("watermark")),
                }
                with outer.cv:
                    outer.progress.setdefault(str(p.id), []).append(rec)

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                with outer.cv:
                    outer.terminated.add(str(e.id))
                    outer.cv.notify_all()

        self._l = _L()
        spark.streams.addListener(self._l)

    def wait_query(self, n_started_before: int, timeout: float = 30.0) -> list[dict]:
        """Progress of the one query started after ``n_started_before``
        queries, once its termination has been delivered."""
        deadline = time.time() + timeout
        with self.cv:
            while True:
                if len(self.started) > n_started_before:
                    qid = self.started[n_started_before]
                    if qid in self.terminated:
                        return sorted(self.progress.get(qid, []), key=lambda r: r["batch"])
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError("stream listener events did not arrive")
                self.cv.wait(left)


def _expected(man: dict) -> dict:
    """Batch twins of the accepted (not late) events."""
    acc = man["events"][~man["events"]["_late"]]
    hour = gen.HOUR_US
    tumb = (
        acc.assign(bucket_start=acc.ts // hour * hour)
        .groupby(["bucket_start", "event_type"], as_index=False)
        .agg(n_events=("value", "size"), total_value=("value", "sum"))
    )
    tumb["end"] = tumb.bucket_start + hour
    totals = acc.groupby("user_id", as_index=False).agg(
        n_events=("value", "size"), total_value=("value", "sum"))
    # the stream reads one chunk file per trigger, so the last data
    # batch runs under at least the watermark of every earlier chunk
    early = man["events"][man["events"]["_chunk"] <= man["chunks"] - 2]
    return {
        "tumbling_counts": tumb,
        "dedup_events": np.sort(acc.event_id.unique()),
        "running_totals": totals,
        "w_min": int(early.ts.max()) - gen.WATERMARK_US,
        "w_final": int(acc.ts.max()) - gen.WATERMARK_US,
    }


def _us(col: pd.Series) -> np.ndarray:
    return col.astype("datetime64[us]").astype(np.int64).to_numpy()


def _check(name: str, got: pd.DataFrame, exp: dict, watermark_us: int | None) -> str | None:
    """None when the table read back matches the batch twin, else why."""
    if name == "dedup_events":
        ids = np.sort(got.event_id.to_numpy())
        return None if np.array_equal(ids, exp[name]) else (
            f"{len(ids)} rows / {len(np.unique(ids))} ids, want {len(exp[name])} distinct ids")
    if name == "running_totals":
        want = exp[name].set_index("user_id").sort_index()
        g = got.set_index("user_id").sort_index()
        if not g.index.equals(want.index) or not (g.n_events == want.n_events).all():
            return f"{len(g)} users / counts differ from the batch totals"
        if not np.allclose(g.total_value, want.total_value.round(3), rtol=0, atol=1e-6):
            return "value totals differ from the batch totals"
        return None
    # tumbling windows (append mode): exactly the batch rows closed by the final
    # watermark (window end ≤ watermark), which lies between the max event
    # time of the second-to-last chunk and the last accepted event time,
    # each minus the delay; a stalled watermark or no closed window fails
    if watermark_us is None or not exp["w_min"] <= watermark_us <= exp["w_final"]:
        return (f"final watermark {watermark_us} outside "
                f"[{exp['w_min']}, {exp['w_final']}] µs")
    want = exp[name][exp[name]["end"] <= watermark_us]
    if want.empty:
        return "no batch window closed by the final watermark"
    keys, got = ["bucket_start", "event_type"], got.assign(bucket_start=_us(got.bucket_start))
    m = got.merge(want, on=keys, suffixes=("", "_want"))
    if len(got) != len(want) or len(m) != len(want):
        return f"{len(got)} windows emitted, {len(want)} batch windows closed by the watermark"
    if not (m.n_events == m.n_events_want).all():
        return "emitted counts differ from the batch twin"
    if not np.allclose(
            m.total_value, m.total_value_want.round(3), rtol=0, atol=1e-6):
        return "emitted totals differ from the batch twin"
    return None


def _drain(spark, name: str, log_dir: str, root: str, listener, tracer) -> dict:
    from processor_spark.sources.lakehouse import CommitConflict, LakeTable
    from processor_spark.streaming import pipelines as P

    mode, key, op = PIPELINES[name]
    table = LakeTable(os.path.join(root, "table"))
    sinks: list[dict] = []

    def sink(batch_df, batch_id):
        with tracer.span("sink", batch=batch_id):
            t0 = time.perf_counter()
            batch_df = batch_df.persist()  # one evaluation of the micro-batch
            rec = {"batch": batch_id, "op": None, "op_s": 0.0, "conflicts": 0}
            try:
                if not batch_df.isEmpty():
                    rec["op"] = "create" if not table.versions() else op
                    with tracer.span(f"lakehouse.{rec['op']}"):
                        t1 = time.perf_counter()
                        try:
                            if rec["op"] == "create":
                                table.create(spark, batch_df, key=key)
                            elif op == "merge":
                                table.merge(spark, batch_df)
                            else:
                                table.append(spark, batch_df)
                        except CommitConflict:
                            rec["conflicts"] += 1
                            raise
                        rec["op_s"] = time.perf_counter() - t1
            finally:
                batch_df.unpersist()
                rec["sink_s"] = time.perf_counter() - t0
                sinks.append(rec)

    n_before = len(listener.started)
    with tracer.span(f"stream:{name}") as span:
        t0 = time.perf_counter()
        stream = getattr(P, name)(P.read_events_stream(spark, log_dir))
        build_s = time.perf_counter() - t0
        t0, e0 = time.perf_counter(), time.time()
        P.run_foreach_batch_ckpt(stream, sink, os.path.join(root, "ckpt"),
                                 timeout_s=DRAIN_TIMEOUT_S, output_mode=mode)
        wall = time.perf_counter() - t0
    progress = listener.wait_query(n_before)
    if tracer.enabled:  # trigger spans, from the listener's clock
        for p in progress:
            tracer.spans.append({
                "id": len(tracer.spans), "name": f"trigger:{p['batch']}", "run": tracer.run_id,
                "parent": span["id"], "start": p["start"],
                "end": p["start"] + p["ms"].get("triggerExecution", 0) / 1000.0,
            })
    committed = bool(table.versions())
    return {"pipeline": name, "wall": wall, "build_s": build_s, "epoch": (e0, e0 + wall),
            "progress": progress, "sinks": sinks, "span_id": span["id"] if span else None,
            "commits": table.current_version() if committed else 0,
            "rows": table.manifest()["total_rows"] if committed else 0, "table": table}


def run(spark, args, work: str, tracer) -> dict:
    listener = ProgressListener(spark)
    untraced = Tracer(tracer.run_id, enabled=False)
    log_dir, warm_dir = os.path.join(work, "log"), os.path.join(work, "warm_log")
    man = gen.write_event_log(log_dir, args.seed, REPLICAS, CHUNKS,
                              base_events=BASE_EVENTS, users=BASE_USERS)
    warm_man = gen.write_event_log(warm_dir, args.seed + 1_000_003, **WARM)
    exp, warm_exp = _expected(man), _expected(warm_man)
    names = list(PIPELINES)
    attempted = failed = 0
    failures: list[str] = []

    def drain_checked(name: str, src: str, want: dict, traced: bool) -> dict | None:
        """One timed drain, then its check; None if the drain raised."""
        nonlocal attempted, failed
        attempted += 1
        root = os.path.join(work, "drains", f"{attempted:04d}")
        rec = None
        try:
            rec = _drain(spark, name, src, root, listener, tracer if traced else untraced)
            table = rec.pop("table")
            got = table.read(spark).toPandas() if rec["commits"] else pd.DataFrame(
                columns=["event_id", "user_id", "bucket_start", "n_events", "total_value"])
            if args.drop_row and len(got):
                got = got.iloc[:-1]
            why = _check(name, got, want, rec["progress"][-1]["watermark_us"] if rec["progress"] else None)
        except Exception as e:
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why is not None:
            failed += 1
            failures.append(f"{name}: {why}")
        return rec

    # warm-up: one drain of every pipeline on a small log, so the timed
    # drains reuse compiled code as a long-lived session would
    t_warm = time.perf_counter()
    for name in names:
        drain_checked(name, warm_dir, warm_exp, False)
    warm_s = time.perf_counter() - t_warm

    rng = np.random.default_rng([args.seed, 4])
    walls: dict[str, list[float]] = {n: [] for n in names}
    triggers_ms: list[float] = []  # every trigger of every untraced drain
    traced_recs: list[dict] = []
    t_start = time.perf_counter()
    p = 0
    min_passes = 2 if args.trace else 1
    with tracer.span("workload:event-ingest"):
        while p < min_passes or time.perf_counter() - t_start < args.seconds:
            traced = bool(args.trace) and p >= 1
            for i in rng.permutation(len(names)):
                if p >= min_passes and time.perf_counter() - t_start >= args.seconds:
                    break
                rec = drain_checked(names[i], log_dir, exp, traced)
                if rec is None:
                    continue
                if traced:
                    traced_recs.append(rec)
                else:
                    walls[rec["pipeline"]].append(rec["wall"])
                    triggers_ms += [float(x["ms"].get("triggerExecution", 0)) for x in rec["progress"]]
            p += 1
    timed_s = time.perf_counter() - t_start

    suite_s = sum_of_medians(walls)
    trig_s = [t / 1000.0 for t in triggers_ms]
    return {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "suite_s": suite_s,
        "query_p50": statistics.median(trig_s),
        "units": "pipelines",
        "untraced_walls": walls,
        "traced": traced_recs,
        "detail": {
            "input": {"delivered_rows": man["delivered_rows"], "distinct_events": man["distinct_events"],
                      "late": man["late"], "out_of_order": man["out_of_order"],
                      "duplicates": man["duplicates"], "chunks": CHUNKS,
                      "users": REPLICAS * BASE_USERS},
            "passes": p,
            "timed_s": timed_s,
            "warm_s": warm_s,
            "events_per_s": {"value": man["delivered_rows"] * len(names) / suite_s, "unit": "1/s"},
            "query_s.tail": tail(trig_s),
            "query_s.p90": pct(trig_s, 90),
            "trigger_ms.p50": {"value": statistics.median(triggers_ms), "unit": "ms"},
            "trigger_ms.tail": dict(tail(triggers_ms), unit="ms"),
            "per_pipeline_median_s": {n: statistics.median(v) for n, v in walls.items() if v},
        },
    }

