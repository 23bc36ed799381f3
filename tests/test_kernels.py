"""processor_spark.kernels against an independent brute-force reference:
int64 ``((X[:, None] - C[None]) ** 2).sum(-1)`` distances with the
(sq, cid) tie-break written out directly, so a formula error shared by
the numpy and Catalyst paths cannot hide behind their equality."""

from __future__ import annotations

import math

import numpy as np
import pytest

from processor_spark import kernels

BIG = np.iinfo(np.int64).max


def _sq(X, C):
    X = np.asarray(X, dtype=np.int64)
    C = np.asarray(C, dtype=np.int64)
    return np.concatenate(
        [
            ((X[i : i + 256, None, :] - C[None, :, :]) ** 2).sum(-1)
            for i in range(0, len(X), 256)
        ]
    )


def _lex_min(sq, cids):
    """(sq, cid)-lexicographic minimum per row; masked entries hold BIG."""
    m = sq.min(axis=1)
    cell = np.where(sq == m[:, None], cids[None, :], BIG).min(axis=1)
    return m, cell


def _layout(seed=3, n=2100, nlist=80, d=8):
    """Centroids with planted duplicates and vectors clustered near them,
    so (sq, cid) ties occur for real."""
    rng = np.random.default_rng(seed)
    C = rng.integers(-2_000_000, 2_000_000, size=(nlist, d))
    for i in (5, 40, 60, nlist - 1):  # duplicates of rows 0 and 2
        C[i] = C[0] if i != 60 else C[2]
    near = rng.integers(0, nlist, size=n)
    X = C[near] + rng.integers(-1_500_000, 1_500_000, size=(n, d))
    X[:50] = C[2]  # exact hits on a centroid duplicated across blocks
    cids = 5 + 3 * np.arange(nlist, dtype=np.int64)  # ascending, gapped
    return X, cids, C


@pytest.mark.parametrize("blk", [7, 1024])
def test_flat_argmin_equals_brute_force(blk):
    X, cids, C = _layout()
    sq, cell = kernels.flat_argmin(X.astype(float), cids, C.astype(float), blk)
    want_sq, want_cell = _lex_min(_sq(X, C), cids)
    assert (sq == want_sq).all()
    assert (cell == want_cell).all()
    # the duplicate of row 2 (row 60) sits 8 blocks later at width 7:
    # every exact hit must resolve to the lower cid
    assert (cell[:50] == cids[2]).all()


def _brute_routed(X, cids, C, rprobe):
    ncoarse = max(1, math.isqrt(len(C)))
    seed_of = _sq(C, C[:ncoarse]).argmin(axis=1)  # first = lowest position
    xg = _sq(X, C[:ncoarse])
    pos = np.arange(ncoarse)
    sq = _sq(X, C)
    masked = np.full_like(sq, BIG)
    for i in range(len(X)):
        # the rprobe nearest seeds in (gsq, position) order
        probed = sorted(pos, key=lambda j: (xg[i, j], j))[:rprobe]
        cand = np.isin(seed_of, probed)
        masked[i, cand] = sq[i, cand]
    return _lex_min(masked, cids)


@pytest.mark.parametrize("rprobe", [1, 3])
def test_routed_argmin_equals_brute_force(rprobe):
    X, cids, C = _layout(n=400)
    G, groups = kernels.route(cids, C.astype(float))
    sq, cell = kernels.routed_argmin(X.astype(float), G, groups, rprobe, 7)
    want_sq, want_cell = _brute_routed(X, cids, C, rprobe)
    assert (sq == want_sq).all()
    assert (cell == want_cell).all()


def test_routed_rp1_differs_from_flat_on_this_layout():
    """Non-vacuity of the routed reference: routing really restricts
    the candidate set here."""
    X, cids, C = _layout(n=400)
    G, groups = kernels.route(cids, C.astype(float))
    _, routed = kernels.routed_argmin(X.astype(float), G, groups, 1, 1024)
    _, flat = kernels.flat_argmin(X.astype(float), cids, C.astype(float), 1024)
    assert (routed != flat).any()


def test_eps_scan_equals_brute_force_with_boundary_pairs():
    """Pairs at exactly eps are in the ball, eps + 1 is out; 1500 query
    rows span two query blocks; every pair is yielded exactly once."""
    eps = 25
    rng = np.random.default_rng(5)
    d = 4
    base = rng.integers(-50_000, 50_000, size=(1500, d))
    P = np.concatenate(
        [
            base,
            base[:300] + np.array([3, 4, 0, 0]),  # dist² == eps
            base[300:600] + np.array([5, 1, 0, 0]),  # dist² == eps + 1
            base[600:900] + np.array([1, 2, 0, 0]),  # dist² == 5
        ]
    )
    got_q, got_p = [], []
    for qi, pj in kernels.eps_scan(base.astype(float), P.astype(float), eps):
        got_q.append(qi)
        got_p.append(pj)
    qi, pj = np.concatenate(got_q), np.concatenate(got_p)
    got = set(zip(qi.tolist(), pj.tolist()))
    assert len(got) == len(qi)  # no pair yielded twice
    ii, jj = np.nonzero(_sq(base, P) <= eps)
    want = set(zip(ii.tolist(), jj.tolist()))
    assert got == want
    assert all((i, 1500 + i) in got for i in range(300))  # == eps kept
    assert not any((300 + i, 1800 + i) in got for i in range(300))  # eps+1


def test_assert_sub53_checks_x_as_well_as_c():
    ok = np.full((4, 64), 8_000_000.0)  # 2*64*8e6² ≈ 8.2e15 < 2^53
    bad = np.full((4, 64), 9_000_000.0)  # 2*64*9e6² ≈ 1.04e16 > 2^53
    cids = np.arange(4, dtype=np.int64)
    kernels.flat_argmin(ok, cids, ok, 1024)
    with pytest.raises(ValueError, match="2\\*d\\*M\\^2"):
        kernels.flat_argmin(bad, cids, ok, 1024)
    with pytest.raises(ValueError, match="2\\*d\\*M\\^2"):
        kernels.flat_argmin(ok, cids, bad, 1024)
    with pytest.raises(ValueError):
        kernels.route(cids, bad)
    G, groups = kernels.route(cids, ok)
    with pytest.raises(ValueError):
        kernels.routed_argmin(bad, G, groups, 1, 1024)
    with pytest.raises(ValueError):
        list(kernels.eps_scan(bad, ok, 25))
    with pytest.raises(ValueError):
        list(kernels.eps_scan(ok, bad, 25))


def test_stream_flat_numpy_assign_checks_centroids(spark):
    """The streaming flat numpy assign must refuse an out-of-contract
    centroid table, like its batch twin, instead of returning
    non-reference cells."""
    from processor_spark.streaming import pipelines as P

    vecs = spark.createDataFrame(
        [(1, [0, 0, 0, 0]), (2, [5, 5, 5, 5])], "vec_id long, vm array<bigint>"
    )
    rows = [(1, [0, 0, 0, 0]), (2, [10**9, 0, 0, 0])]
    with pytest.raises(ValueError, match="2\\*d\\*M\\^2"):
        P._numpy_assign(vecs, rows, two_level=False).collect()
