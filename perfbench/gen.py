"""Seeded input generators for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` with the
schemas and value domains of the engine's fixture tables (row counts at
sf0.1: 600k lineitem, 100k events, 5k documents, 2k embeddings), so the
same seed gives byte-identical parquet files and a different seed gives
different ones.  Nothing is read from outside the output directory.

Two layouts are written:

- ``write_tables``: the ten fixture tables as one parquet file each,
  the layout every registered query reads (``sf_dir``);
- ``write_event_log``: an event log for the streaming pipelines, the
  base events replicated ``replicas`` times with shifted ids, split
  into event-time ordered chunk files.  A stated share of events is
  moved out of order (one chunk later, still inside the watermark),
  moved late (two chunks later, behind any watermark), or re-sent as
  a duplicate.  ``ts`` is written as microsecond longs, the unit
  ``read_events_stream`` converts from.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "hot", "cold", "large", "small", "shiny", "old"]
PART_NOUN = ["bolt", "ring", "anvil", "widget", "gear", "spring", "valve", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
N_USERS = 1_500
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * 86_400_000_000  # 30 days
HOUR_US = 3_600_000_000
WATERMARK_US = HOUR_US  # the pipelines' default watermark delay
# shares of the event log delivered out of order, late, and twice
OUT_OF_ORDER = LATE = DUPLICATE = 0.002


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    # no pandas metadata and a fixed writer config → byte-identical files
    table = table.replace_schema_metadata(None)
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_events(rng, n: int, users: int = N_USERS) -> pd.DataFrame:
    """Base events: time-ordered over 30 days, µs timestamps."""
    ts = np.sort(EVENTS_T0_US + rng.integers(0, EVENTS_SPAN_US, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype(np.int64),
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> pd.DataFrame:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # ~5% near-duplicates of an earlier document: one word dropped or a
    # "dup" marker appended, the edit shape of the fixture's near-dups
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        src = texts[int(rng.integers(0, i))]
        texts[i] = src.rsplit(" ", 1)[0] if rng.random() < 0.5 else src + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> tuple[pd.DataFrame, pa.Schema]:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    df = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )
    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    )
    return df, schema


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten fixture tables at ``scale`` × sf0.1 row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(round(c * scale))) for t, c in SF01_ROWS.items()}
    n["region"], n["nation"] = 5, 25
    i32 = np.int32

    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
           f"{out_dir}/region.parquet")
    _write(pd.DataFrame({"n_nationkey": np.arange(25, dtype=i32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": (np.arange(25) % 5).astype(i32)}),
           f"{out_dir}/nation.parquet")
    ns = n["supplier"]
    _write(pd.DataFrame({"s_suppkey": np.arange(ns, dtype=np.int64),
                         "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                         "s_nationkey": rng.integers(0, 25, ns).astype(i32),
                         "s_acctbal": _money(rng, ns, -999.99, 9999.99)}),
           f"{out_dir}/supplier.parquet")
    nc = n["customer"]
    _write(pd.DataFrame({"c_custkey": np.arange(nc, dtype=np.int64),
                         "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                         "c_nationkey": rng.integers(0, 25, nc).astype(i32),
                         "c_acctbal": _money(rng, nc, -999.99, 9999.99),
                         "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]}),
           f"{out_dir}/customer.parquet")
    npart = n["part"]
    _write(pd.DataFrame({"p_partkey": np.arange(npart, dtype=np.int64),
                         "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                    zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
                         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                         "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
                         "p_size": rng.integers(1, 51, npart).astype(i32),
                         "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2)}),
           f"{out_dir}/part.parquet")
    no = n["orders"]
    _write(pd.DataFrame({"o_orderkey": np.arange(no, dtype=np.int64),
                         "o_custkey": rng.integers(0, nc, no).astype(np.int64),
                         "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
                         "o_totalprice": _money(rng, no, 1000.0, 500000.0),
                         "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
                         "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]}),
           f"{out_dir}/orders.parquet")
    nl = n["lineitem"]
    _write(pd.DataFrame({"l_orderkey": rng.integers(0, no, nl).astype(np.int64),
                         "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
                         "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
                         "l_linenumber": rng.integers(1, 8, nl).astype(i32),
                         "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                         "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
                         "l_discount": rng.integers(0, 11, nl) / 100.0,
                         "l_tax": rng.integers(0, 9, nl) / 100.0,
                         "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
                         "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
                         "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")}),
           f"{out_dir}/lineitem.parquet")
    ev = make_events(rng, n["events"])
    ev["ts"] = ev["ts"].to_numpy().astype("datetime64[us]")
    _write(ev, f"{out_dir}/events.parquet")
    _write(_documents(rng, n["documents"]), f"{out_dir}/documents.parquet")
    emb, emb_schema = _embeddings(rng, n["embeddings"])
    _write(emb, f"{out_dir}/embeddings.parquet", emb_schema)
    return n


def write_event_log(
    out_dir: str,
    seed: int,
    replicas: int,
    chunks: int,
    base_events: int = SF01_ROWS["events"],
    users: int = N_USERS,
) -> dict:
    """Write the replicated, chunked event log; return its manifest.

    The manifest records, per event, the chunk it was delivered in and
    whether it was delivered late (dropped by any watermark the stream
    can hold when it arrives), so the correctness gate can build the
    batch twin of exactly the events the stream accepts and bound the
    final watermark from below.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    base = make_events(rng, base_events, users)
    ev = pd.concat(
        [base.assign(event_id=base.event_id + r * base_events, user_id=base.user_id + r * users)
         for r in range(replicas)],
        ignore_index=True,
    ).sort_values(["ts", "event_id"], kind="stable", ignore_index=True)
    n = len(ev)
    bounds = np.linspace(0, n, chunks + 1).astype(int)
    chunk = np.repeat(np.arange(chunks), np.diff(bounds))
    ts = ev["ts"].to_numpy()
    chunk_max = np.array([ts[bounds[c + 1] - 1] for c in range(chunks)])
    # out of order: events within 50 min of their chunk's end move one
    # chunk later; every earlier watermark is ≤ chunk_max − 1 h, so they
    # stay on time under both the late-event and the eviction watermark.
    # The same window supplies the duplicates, so the two split it.
    edge = np.flatnonzero((chunk < chunks - 1) & (ts >= chunk_max[chunk] - 50 * 60_000_000))
    edge = rng.permutation(edge)
    ooo = edge[: min(len(edge) // 2, int(OUT_OF_ORDER * n))]
    # late: events of chunk c whose ts lies ≥ 2 h before chunk c's end
    # move to chunk c + 2, whose watermark (≥ chunk_max[c] − 1 h) has
    # passed them under either watermark the operator may apply
    late_pool = np.flatnonzero((chunk < chunks - 2) & (ts < chunk_max[chunk] - 2 * HOUR_US))
    late_pool = np.setdiff1d(late_pool, ooo)
    late_idx = rng.choice(late_pool, min(len(late_pool), int(LATE * n)), replace=False)
    delivered = chunk.copy()
    delivered[ooo] += 1
    delivered[late_idx] += 2
    is_late = np.zeros(n, dtype=bool)
    is_late[late_idx] = True
    ev = ev.assign(_chunk=delivered, _late=is_late)
    # duplicates: the other half of the edge window, re-sent one chunk
    # later (same row, so the dedup pipeline must drop them)
    dup_idx = edge[len(edge) // 2:][: int(DUPLICATE * n)]
    dups = ev.iloc[dup_idx].assign(_chunk=chunk[dup_idx] + 1)
    ev = pd.concat([ev, dups], ignore_index=True)
    mtime = 1_000_000_000
    for c in range(chunks):
        part = ev[ev["_chunk"] == c].drop(columns=["_chunk", "_late"])
        path = f"{out_dir}/chunk_{c:03d}.parquet"
        _write(part, path)
        # the file source orders new files by modification time
        os.utime(path, (mtime + c, mtime + c))
    check_event_log(ev, chunks)
    return {
        "events": ev,
        "chunks": chunks,
        "delivered_rows": len(ev),
        "distinct_events": n,
        "late": int(is_late.sum()),
        "out_of_order": len(ooo),
        "duplicates": len(dup_idx),
    }


def check_event_log(ev: pd.DataFrame, chunks: int) -> None:
    """Self-check of the unit and span of ``ts``: a log written in ms
    instead of µs spans minutes, keeps every 1-hour window open, and
    makes the windowed pipelines emit nothing without any error."""
    ts = ev["ts"].to_numpy()
    if ts.dtype != np.int64:
        raise AssertionError(f"event ts must be int64 µs, got {ts.dtype}")
    if not (EVENTS_T0_US <= ts.min() and ts.max() < EVENTS_T0_US + EVENTS_SPAN_US):
        raise AssertionError("event ts outside the 30-day µs range; wrong unit?")
    if ts.max() - ts.min() < 20 * 86_400_000_000:
        raise AssertionError("event log spans < 20 days; windows would never close")
    if sorted(set(ev["_chunk"])) != list(range(chunks)):
        raise AssertionError("event log has empty chunks")


def digest_dir(path: str) -> str:
    """sha256 over the sorted (name, bytes) of every file in ``path``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isfile(full):
            h.update(name.encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def self_check(tmp_root: str, seed: int) -> None:
    """Same seed → byte-identical inputs; another seed → different ones
    (small sizes, so every run can afford it)."""
    a, b, c = (os.path.join(tmp_root, x) for x in ("a", "b", "c"))
    for d, s in ((a, seed), (b, seed), (c, seed + 1)):
        write_tables(d, s, scale=0.01)
        write_event_log(os.path.join(d, "log"), s, replicas=2, chunks=4, base_events=4_000, users=60)
    for sub in ("", "log"):
        da, db, dc = (digest_dir(os.path.join(x, sub)) for x in (a, b, c))
        if da != db:
            raise AssertionError(f"same seed gave different inputs ({sub or 'tables'})")
        if da == dc:
            raise AssertionError(f"different seeds gave identical inputs ({sub or 'tables'})")

