"""Brute-force k-closest-point scan
(Query/S2ClosestEdgeQueryBase.cs:274-298: below a size cutoff the
reference skips its index and scans every indexed point).

``closest_k`` ranks a batch of query points against a small index held
in memory and returns, per query, the k smallest squared-chord
distances in exact (dist2, index position) order.  The caller keeps the
index sorted by its key, so position order is the reference's
(distance, id) tie order; NaN distances sort last, as in Spark's
ordering.

Two passes per chunk of queries:

1. screen: one BLAS product gives every pair's approximate distance
   ``|q|^2 + |p|^2 - 2 q.p``.  Its error against the exact expression
   is below ``E = 64 eps (max|q|^2 + max|p|^2)`` (both are sums of at
   most five rounded products).  Split the index into k column blocks;
   the largest block minimum ``tau`` is an approximate distance that k
   distinct pairs reach, so the exact k-th distance is at most
   ``tau + E`` and every pair of the exact top k (ties included) has an
   approximate distance within ``tau + 2E``.
2. exact: only the screened pairs (a few per query) get the distance in
   ``operators.knn._dist2``'s order ``(dx*dx + dy*dy) + dz*dz`` and an
   exact (dist2, position) sort.

A pair whose screen value is NaN always passes the screen, and a query
whose block minima include NaN keeps every pair, so NaN inputs take the
exact path.  Each chunk holds about ``CHUNK_PAIRS`` pairs, so scratch
memory stays fixed however large the Arrow batch."""

from __future__ import annotations

import numpy as np

CHUNK_PAIRS = 1 << 16  # 512 KiB of screen values: cache-resident
_EPS = float(np.finfo(np.float64).eps)


def closest_k(
    qx, qy, qz, ix, iy, iz, k: int,
    max_distance2: float | None = None,
):
    """k closest index points per query point.

    Returns ``(counts, pos, dist2)``: ``counts[i]`` result rows for
    query ``i`` (min(k, N), fewer under ``max_distance2``), then the
    flat index positions and squared-chord distances of all result
    rows in query order, each query's rows in (dist2, position) order.
    ``max_distance2`` keeps only pairs with dist2 <= bound."""
    qx, qy, qz, ix, iy, iz = (
        np.asarray(a, dtype=np.float64) for a in (qx, qy, qz, ix, iy, iz)
    )
    nq, n = len(qx), len(ix)
    kk = min(int(k), n)
    if nq == 0 or kk <= 0:
        return (
            np.zeros(nq, dtype=np.int64),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float64),
        )
    qn = (qx * qx + qy * qy) + qz * qz
    pn = (ix * ix + iy * iy) + iz * iz
    # screen[i, j] = a[i] . b[j] = |q_i|^2 + |p_j|^2 - 2 q_i.p_j
    a = np.stack([qx, qy, qz, qn, np.ones(nq)], axis=1)
    b = np.stack([-2.0 * ix, -2.0 * iy, -2.0 * iz, np.ones(n), pn])
    err = 64 * _EPS * (
        np.nanmax(qn, initial=0.0) + np.nanmax(pn, initial=0.0)
    )
    blocks = np.arange(kk) * n // kk
    step = max(1, CHUNK_PAIRS // n)
    buf = np.empty((min(step, nq), n))
    counts, pos, dist2 = [], [], []
    for lo in range(0, nq, step):
        hi = min(nq, lo + step)
        s = np.matmul(a[lo:hi], b, out=buf[: hi - lo])
        if kk < n:
            thr = np.fmin.reduceat(s, blocks, axis=1).max(axis=1) + 3 * err
        else:
            thr = np.full(hi - lo, np.inf)
        if max_distance2 is not None:
            thr = np.minimum(thr, max_distance2 + 2 * err)
        # NOT (s > thr) keeps NaN screen values and NaN-threshold rows
        flat = np.flatnonzero(~(s > thr[:, None]))
        r, c = np.divmod(flat, n)
        dx = qx[lo + r] - ix[c]
        dy = qy[lo + r] - iy[c]
        dz = qz[lo + r] - iz[c]
        v = (dx * dx + dy * dy) + dz * dz
        if max_distance2 is not None:
            ok = v <= max_distance2
            r, c, v = r[ok], c[ok], v[ok]
        order = np.lexsort((c, v, r))
        r, c, v = r[order], c[order], v[order]
        cnt = np.bincount(r, minlength=hi - lo)
        top = np.arange(len(r)) - (np.cumsum(cnt) - cnt)[r] < kk
        counts.append(np.minimum(cnt, kk))
        pos.append(c[top])
        dist2.append(v[top])
    return np.concatenate(counts), np.concatenate(pos), np.concatenate(dist2)
