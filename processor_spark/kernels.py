"""Exact-integer squared-L2 kernels shared by every numpy distance path,
batch and streaming.  Pure numpy; no Spark.

Exactness contract.  Inputs are float64 matrices of integers (micro-unit
vectors).  Every distance is computed in the decomposed form
``x² + c² − 2·x·c``; all of its terms are integers and its largest
intermediate (the ``x² + c²`` partial-sum chain) is at most 2·d·M² for
max |coordinate| M, so ``2·d·M² < 2^53`` makes the float64 arithmetic
exact whatever order BLAS sums in.  :func:`assert_sub53` enforces that
bound and raises instead of returning non-reference results.

Tie-break contract.  An argmin is the ``(sq, cid)`` lexicographic minimum
— the Catalyst ``min_by(cid, struct(sq, cid))`` and the DuckDB
``ORDER BY sq, cid``.  Centroid blocks are scanned in ascending-cid order
and the running minimum updates only on a strict ``(sq, cid) <``, so a
tie across blocks keeps the lower cid.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np

_ROW_CHUNK = 2048  # query rows per matmul in the argmins
_EPS_BLOCK = 1024  # query rows per matmul in the eps-scan


def assert_sub53(*mats) -> None:
    """Raise ValueError unless every matrix satisfies 2·d·M² < 2^53."""
    for M in mats:
        if M.size == 0:
            continue
        d = M.shape[-1]
        mx = float(np.abs(M).max())
        if 2.0 * d * mx * mx >= 2.0**53:
            raise ValueError(
                f"micro-unit coordinate {mx:.3g} at d={d} breaks the "
                f"2*d*M^2 < 2^53 float64-exactness contract of the "
                f"numpy distance paths (max |coord| allowed: "
                f"{(2.0 ** 52 / d) ** 0.5:.3g})"
            )


def _sqdist(X, C):
    """Exact squared L2 between every row of X and every row of C."""
    x2 = (X * X).sum(axis=1)
    c2 = (C * C).sum(axis=1)
    return x2[:, None] + c2[None, :] - 2.0 * (X @ C.T)


def _merge_min(best_sq, best_cid, idx, sq, cid) -> None:
    """Running (sq, cid) minimum: rows ``idx`` take (sq, cid) where it is
    strictly lexicographically smaller than what they hold."""
    b, c = best_sq[idx], best_cid[idx]
    upd = (sq < b) | ((sq == b) & (cid < c))
    best_sq[idx[upd]] = sq[upd]
    best_cid[idx[upd]] = cid[upd]


def _argmin(X, cids, C, blk: int):
    best_sq = np.full(len(X), np.inf)
    cell = np.zeros(len(X), dtype=np.int64)
    for lo in range(0, len(X), _ROW_CHUNK):
        Xc = X[lo : lo + _ROW_CHUNK]
        idx = np.arange(lo, lo + len(Xc))
        for cl in range(0, len(C), blk):
            sq = _sqdist(Xc, C[cl : cl + blk])
            loc = sq.argmin(axis=1)  # first occurrence = lowest cid in block
            v = sq[np.arange(len(Xc)), loc]
            _merge_min(best_sq, cell, idx, v, cids[cl + loc])
    return best_sq, cell


def flat_argmin(X, cids, C, blk: int):
    """Exact flat argmin of each row of X over the cid-ASCENDING centroid
    rows (cids, C), ``blk`` centroid columns per matmul (memory per
    call is flat in len(C)).  Returns (sq, cell)."""
    assert_sub53(X, C)
    return _argmin(X, cids, C, blk)


def router_groups(C, blk: int | None = None):
    """Two-level router over the cid-ASCENDING rows of C (already checked
    by :func:`assert_sub53`): the first ncoarse = isqrt(n) rows are the
    router seeds and every row routes to its (gsq, seed position)-min
    seed.  Returns (ncoarse, assign) with assign[i] = seed position of
    row i.  ``blk`` fine rows per matmul (default keeps the distance
    matrix ~128 MB)."""
    n = len(C)
    ncoarse = max(1, math.isqrt(n))
    S = C[:ncoarse]
    assign = np.empty(n, dtype=np.int64)
    if blk is None:
        blk = max(256, 16_000_000 // ncoarse)
    for s in range(0, n, blk):
        assign[s : s + blk] = _sqdist(C[s : s + blk], S).argmin(axis=1)
    return ncoarse, assign


def route(cids, C):
    """Driver-side half of :func:`routed_argmin`: checks C and groups
    the cid-ASCENDING rows (cids, C) under their router seed.  Returns
    (G, groups): G = the seed rows, groups[j] = (cids, rows) routed to
    seed j, cid-ascending."""
    assert_sub53(C)
    ncoarse, assign = router_groups(C)
    order = np.argsort(assign, kind="stable")
    bounds = np.searchsorted(assign[order], np.arange(1, ncoarse))
    groups = [
        (cids[m], np.ascontiguousarray(C[m])) for m in np.split(order, bounds)
    ]
    return C[:ncoarse], groups


def routed_argmin(X, G, groups, rprobe: int, blk: int):
    """Two-level multi-probe argmin over a :func:`route` plan: each row of
    X probes its ``rprobe`` nearest seeds ((gsq, seed position) order)
    and takes the exact (sq, cid) argmin over the union of their
    groups.  Returns (sq, cell)."""
    assert_sub53(X)
    rp = min(rprobe, len(G))
    probed = np.argsort(_sqdist(X, G), axis=1, kind="stable")[:, :rp]
    best_sq = np.full(len(X), np.inf)
    cell = np.zeros(len(X), dtype=np.int64)
    for j, (mcids, M) in enumerate(groups):
        idx = np.flatnonzero((probed == j).any(axis=1))
        if len(idx) and len(mcids):
            sq, c = _argmin(X[idx], mcids, M, blk)
            _merge_min(best_sq, cell, idx, sq, c)
    return best_sq, cell


def eps_scan(Q, P, eps: int) -> Iterator[tuple]:
    """Yield (qi, pj) index arrays of every pair with ‖Q[qi] − P[pj]‖² ≤
    eps, one block of query rows at a time.  Norm-band pruning: rows are
    visited in ‖q‖ order and a block meets only the pool rows whose
    norm lies within sqrt(eps) of its norm range — |‖q‖−‖p‖| >
    sqrt(eps) implies ‖q−p‖² > eps (reverse triangle inequality), so
    only pairs provably outside the ball are skipped; the float margin
    only widens the band."""
    assert_sub53(Q, P)
    thr = float(eps) ** 0.5 + 1e-3
    qn = np.sqrt((Q * Q).sum(axis=1))
    pn = np.sqrt((P * P).sum(axis=1))
    qo = np.argsort(qn, kind="stable")
    po = np.argsort(pn, kind="stable")
    qn, pn, Ps = qn[qo], pn[po], P[po]
    for a in range(0, len(Q), _EPS_BLOCK):
        rows = qo[a : a + _EPS_BLOCK]
        lo = int(np.searchsorted(pn, qn[a] - thr, side="left"))
        hi = int(np.searchsorted(pn, qn[a + len(rows) - 1] + thr, side="right"))
        ii, jj = np.nonzero(_sqdist(Q[rows], Ps[lo:hi]) <= eps)
        yield rows[ii], po[lo + jj]
