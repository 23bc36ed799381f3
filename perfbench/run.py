#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload collections --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine.  One Python process
builds a session on ``local[<cores>]`` through the engine's own
``session.build_session``, generates its inputs from ``--seed``
(``perfbench/gen.py``), drives the engine only through its public
functions, checks every output, and prints one JSON result as the last
line of standard output:

- ``--trace 0``: the end-to-end metrics of BENCHMARK.json;
- ``--trace 1``: the per-layer metrics, gathered from outside the
  library: spans around each call, a Spark job group per span, the
  Spark event log (enabled for this run only, through launch conf) and
  a ``StreamingQueryListener``.

The line before the result holds the run's details: the ungated
metrics (``query_s.tail`` with its percentile and sample count,
``events_per_s``, ``trigger_ms.*``, ``ops_failed_frac``,
``peak_rss_mb``), the failures, and the run stamp (canary, load
average, nproc, master, pyspark version, git commit, engine source
digest).  Everything the run writes stays under ``.perfbench_work/`` in
the checkout and is removed at exit, except the last trace of each
workload.  See ``perfbench/DESIGN.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

_T0 = time.perf_counter()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import ROOT, cpu_count, seconds_since_process_start, stamp, vm_hwm_mb  # noqa: E402

WORKLOADS = ("collections", "event-ingest")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _configure_env(work: str, trace: bool) -> None:
    """Process environment read by the engine and by the JVM it launches.

    - ``local[<cores>]``: ``SPARK_GRAFT_CPUS`` is what ``build_session``
      reads;
    - the checkout root goes on ``PYTHONPATH`` so Python workers (pandas
      UDFs, stateful stream functions) import the engine whatever the
      working directory;
    - scratch, spill and warehouse directories stay inside the checkout;
    - the event log is launch conf, on only for the traced run."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpu_count()),
        PYTHONPATH=os.pathsep.join(dict.fromkeys(paths)),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
    )
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # the JVM's hsperfdata file would go to /tmp whatever the tmpdir
        "--driver-java-options",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem",
    ]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _setup() -> tuple[object, dict]:
    """Set-up as a user pays it: session built, every operator module
    loaded, first action done."""
    from processor_spark import registry
    from processor_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench")
    t1 = time.perf_counter()
    registry.load_all_modules()
    t2 = time.perf_counter()
    spark.range(1).toPandas()
    return spark, {
        "setup_s": seconds_since_process_start(),
        "session.build_s": t1 - t0,
        "registry.load_s": t2 - t1,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--drop-row", action="store_true",
                    help="drop one row of every checked output (gate self-test)")
    args = ap.parse_args(argv)

    try:
        import processor_spark

        if not os.path.abspath(processor_spark.__file__).startswith(ROOT + os.sep):
            raise ImportError(f"processor_spark comes from {processor_spark.__file__}")
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    _configure_env(work, bool(args.trace))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench.common import Tracer

    spark, setup = _setup()
    from perfbench.gen import self_check

    self_check(os.path.join(work, "gen_check"), args.seed)  # same seed → same bytes, etc.
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    if args.workload == "collections":
        from perfbench import collections_wl as wl
    else:
        from perfbench import ingest_wl as wl
    jvm = spark.sparkContext._gateway.proc
    res = wl.run(spark, args, work, tracer)
    peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm.pid)
    app_id = spark.sparkContext.applicationId
    run_stamp = stamp(spark)
    spark.stop()  # flushes and closes the event log
    jvm.stdin.close()  # the gateway JVM exits at EOF on its stdin
    jvm.wait(timeout=60)

    attempted, failed = res["attempted"], res["failed"]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops_failed_frac": failed / max(attempted, 1),
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        "failures": res["failures"][:20],
        **res["detail"],
        "stamp": run_stamp,
        "run_s": time.perf_counter() - _T0,
    }
    if args.trace:
        from perfbench.layers import per_layer

        layer = per_layer(res, setup, os.path.join(work, "eventlog"), app_id, cpu_count(), tracer)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer["metrics"].items()}
        detail["trace"] = layer["detail"]
        os.makedirs(WORK_ROOT, exist_ok=True)
        tracer.dump(os.path.join(WORK_ROOT, f"last_trace_{args.workload}.json"))
    else:
        metrics = {
            "setup_s": {"value": setup["setup_s"], "unit": "s"},
            "suite_s": {"value": res["suite_s"], "unit": "s"},
            "query_s.p50": {"value": res["query_p50"], "unit": "s"},
        }
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
