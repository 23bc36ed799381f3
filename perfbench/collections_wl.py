"""``collections``: the eleven headline keys over sf0.05-sized tables.

Closed loop, one client: each pass runs every key once, in an order the
seed permutes per pass; the next call starts when the previous one
returns.  One untimed pass warms the JVM; the timed loop then runs for
``--seconds`` (at least ``MIN_PASSES`` full passes).  Every
output is checked against the key's DuckDB oracle SQL on the same
tables (``registry.oracle_sql``), outside the timed region, with the
canonicalization rules of ``tests/oracle_utils``: by an order-insensitive
digest of the canonical rows or, when the digests differ, row by row with
the rounded float aggregates of ``ROUNDED`` allowed one unit apart
(``same_rows``).

With ``--trace 1`` the untraced passes are followed by traced ones, inside
spans with a Spark job group per span, so the traced-minus-untraced
difference is the tracing overhead and each key's traced layer sum can
be reconciled with its untraced wall.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.common import pct, sum_of_medians, tail
from tests.oracle_utils import _canon_value, run_oracle

# bench.py's headline keys (its ``value`` is the sum of their medians)
KEYS = [
    "q_pricing_summary",
    "q_join_5way",
    "q_window_rank",
    "q_tumbling_window",
    "q_sessionization",
    "q_topk_similarity",
    "q_text_tokens",
    "q_grouping_sets",
    "q_dedup_minhash_md5",
    "q_corpus_mixture",
    "q_dedup_substring",
]
SCALE = 0.5  # sf0.05 row counts (300k lineitem)
# Whole passes per run, so every key has the same number of samples: the
# second timed pass runs faster than the first, and runs that fitted a
# partial second pass into --seconds read ~15% lower than runs that did not.
# Three samples let each key's median drop one pass slowed by host load
# (IQR/median of suite_s over ten seeds: 0.20 with two passes, 0.08 with three).
MIN_PASSES = 3
# Float aggregates that both engines round (``round(sum(..), d)`` and the
# like in the oracle SQL), with their decimals d.  A sum that lands on a
# half-way point rounds either way depending on summation order (seed 33
# at sf0.05: q_join_5way revenue 181411597.10 in Spark, .11 in DuckDB).
ROUNDED = {
    "q_pricing_summary": {"sum_qty": 2, "sum_base_price": 2, "sum_disc_price": 2,
                          "sum_charge": 2, "avg_qty": 4, "avg_price": 4, "avg_disc": 6},
    "q_join_5way": {"revenue": 2},
    "q_tumbling_window": {"total_value": 3},
    "q_sessionization": {"session_value": 3},
    "q_grouping_sets": {"total_value": 2},
}


def _canon_column(s: pd.Series) -> list[str]:
    """``_canon_value`` of every cell.  Timestamp columns take a vectorized
    path to the same text: a ``Timestamp.floor`` per cell cost ~6 s on
    q_sessionization's ~50k rows."""
    if pd.api.types.is_datetime64_any_dtype(s.dtype):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        text = np.datetime_as_string(s.to_numpy().astype("datetime64[us]"), unit="us")
        return [t[:-7] if t.endswith(".000000") else t for t in text.tolist()]
    return [_canon_value(v) for v in s.tolist()]


def canonical_rows(pdf: pd.DataFrame, cols: list[str] | None = None) -> list[tuple]:
    """``tests/oracle_utils.canonical_rows`` (columns sorted by name unless
    ``cols`` is given), a column at a time: ``iterrows`` is too slow on
    results of ~50k rows."""
    cols = sorted(pdf.columns) if cols is None else cols
    return sorted(zip(*(_canon_column(pdf[c]) for c in cols))) if cols else []


def digest(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256(",".join(sorted(pdf.columns)).encode())
    for row in canonical_rows(pdf):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return f"{len(pdf)}:{h.hexdigest()}"


def same_rows(got: pd.DataFrame, want: pd.DataFrame, rounded: dict[str, int]) -> bool:
    """Canonical rows equal, except that a float column of ``rounded``
    may differ by exactly one unit in its d-th decimal."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    loose = sorted(c for c in rounded if c in got.columns and
                   pd.api.types.is_float_dtype(got[c]) and pd.api.types.is_float_dtype(want[c]))
    cols = sorted(set(got.columns) - set(loose)) + loose
    k = len(cols) - len(loose)
    for a, b in zip(canonical_rows(got, cols), canonical_rows(want, cols)):
        if a[:k] != b[:k]:
            return False
        for c, x, y in zip(loose, a[k:], b[k:]):
            fx, fy = float(x), float(y)
            # exactly 10^-d apart, up to the doubles' own precision
            eps = 4 * math.ulp(max(abs(fx), abs(fy)))
            if x != y and not abs(abs(fx - fy) - 10.0 ** -rounded[c]) <= eps:
                return False
    return True


def _invoke(spark, fn, sf_dir: str, tracer, key: str, traced: bool) -> dict:
    """One closed-loop call: build, action, materialize; returns walls
    and (traced) the span facts the layer report needs."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    rec: dict = {"key": key, "traced": traced}
    if not traced:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
        rec.update(wall=t2 - t0, build_s=t1 - t0)
        return rec | {"pdf": pdf}
    with tracer.span(f"query:{key}") as q:
        group = f"{tracer.run_id}.{q['id']}"
        with tracer.span("build") as b:
            sc.setJobGroup(f"{group}.build", f"perfbench build {key}")
            df = fn(spark, sf_dir)
        with tracer.span("action") as a:
            sc.setJobGroup(f"{group}.action", f"perfbench action {key}")
            pdf = df.toPandas()
        sc.setLocalProperty("spark.jobGroup.id", None)
    phases = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = float(kv._2().durationMs())
    rec.update(
        wall=q["end"] - q["start"], build_s=b["end"] - b["start"],
        build_group=f"{group}.build", action_group=f"{group}.action",
        build_span=(b["start"], b["end"]), action_span=(a["start"], a["end"]),
        build_span_id=b["id"], action_span_id=a["id"],
        catalyst=phases, rows=len(pdf),
    )
    return rec | {"pdf": pdf}


def run(spark, args, work: str, tracer) -> dict:
    from processor_spark import registry

    sf_dir = os.path.join(work, "sf")
    sizes = gen.write_tables(sf_dir, args.seed, scale=SCALE)
    keys = [k for k in KEYS if registry.get(k).sql]
    attempted = failed = 0
    failures: list[str] = []

    def expect(key: str) -> tuple[str, pd.DataFrame]:
        want = run_oracle(registry.get(key).sql, sf_dir)
        return digest(want), want

    def fail(key: str, why: str) -> None:
        nonlocal failed
        failed += 1
        failures.append(f"{key}: {why}")

    def call(key: str, traced: bool) -> dict | None:
        """One invocation; a raise is a failed op."""
        nonlocal attempted
        try:
            return _invoke(spark, registry.get(key).fn, sf_dir, tracer, key, traced)
        except Exception as e:
            attempted += 1
            fail(key, f"{type(e).__name__}: {str(e)[:200]}")
            return None

    def check(key: str, pdf, want: tuple) -> None:
        """Digest match, or else a row-by-row match within the rounding
        of ``ROUNDED`` (``same_rows``)."""
        nonlocal attempted
        attempted += 1
        if args.drop_row and len(pdf):
            pdf = pdf.iloc[:-1]
        if digest(pdf) != want[0] and not same_rows(pdf, want[1], ROUNDED.get(key, {})):
            fail(key, "output differs from the oracle")

    expected = {k: expect(k) for k in keys}
    # untimed warm-up pass (JIT, codegen, first-touch) on the timed
    # tables themselves, checked too: warming on smaller tables left the
    # first timed pass slower than the next
    t_warm = time.perf_counter()
    for key in keys:
        if (rec := call(key, False)) is not None:
            check(key, rec["pdf"], expected[key])
    warm_s = time.perf_counter() - t_warm
    rng = np.random.default_rng([args.seed, 3])
    walls: dict[str, list[float]] = {k: [] for k in keys}
    traced_recs: list[dict] = []
    t_start = time.perf_counter()
    p = 0
    min_passes = MIN_PASSES + 1 if args.trace else MIN_PASSES
    with tracer.span("workload:collections"):
        while p < min_passes or time.perf_counter() - t_start < args.seconds:
            traced = bool(args.trace) and p >= MIN_PASSES
            for i in rng.permutation(len(keys)):
                key = keys[i]
                if p >= min_passes and time.perf_counter() - t_start >= args.seconds:
                    break
                if (rec := call(key, traced)) is None:
                    continue
                check(key, rec.pop("pdf"), expected[key])
                if traced:
                    traced_recs.append(rec)
                else:
                    walls[key].append(rec["wall"])
            p += 1
    timed_s = time.perf_counter() - t_start

    all_walls = [w for v in walls.values() for w in v]
    return {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "suite_s": sum_of_medians(walls),
        "query_p50": statistics.median(all_walls),
        "units": "keys",
        "untraced_walls": walls,
        "traced": traced_recs,
        "detail": {
            "input_rows": sizes,
            "passes": p,
            "timed_s": timed_s,
            "warm_s": warm_s,
            "timed_invocations": len(all_walls),
            "query_s.tail": tail(all_walls),
            "query_s.p90": pct(all_walls, 90),
            "per_key_median_s": {k: statistics.median(v) for k, v in walls.items() if v},
        },
    }
