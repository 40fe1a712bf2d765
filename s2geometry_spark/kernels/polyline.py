"""Polyline + point<->edge distance kernels.

Reference semantics:
- point-to-edge squared-chord distance: S2EdgeDistances.cs
  AlwaysUpdateMinDistance / AlwaysUpdateMinInteriorDistance (triage on
  the perpendicular-foot condition, then the c2/x_dot_c2 + (1-|cx|/|c|)^2
  closed form)
- Project onto edge: S2EdgeDistances.Project (foot of perpendicular if
  strictly inside the wedge, else nearest endpoint)
- GetPointOnLine / GetPointOnRay: spherical offset along a geodesic
- polyline GetLength / Interpolate (GetSuffix) / UnInterpolate /
  Project / IsOnRight: S2Region/S2Polyline.cs:211-340

Scalar (per polyline, small vertex counts) plus a vectorized
point-batch-to-edge distance.  Every near, closest and buffer refine
folds it through ``edges_min_distance2`` (the min over a shape's
edges, S2ClosestEdgeQueryBase's AlwaysUpdateMinDistance loop, which
S2ShapeIndexBufferedRegion reuses) or ``region_distance2`` (the same
fold with the VisitContainingShapes interior shortcut); no other
module calls the per-edge kernel.
"""

from __future__ import annotations

import math

import numpy as np

from . import edges as E
from .measures import stable_cross_prod, vec_angle

DBL_EPS = E.DBL_EPS


def _norm2(a):
    return E.dot(a, a)


def _normalize(a):
    n = math.sqrt(_norm2(a))
    return (a[0] / n, a[1] / n, a[2] / n)


def _sub(a, b):
    return (a[0] - b[0], a[1] - b[1], a[2] - b[2])


def edge_distance2(x, a, b) -> float:
    """Squared-chord distance from unit point x to geodesic edge (a,b)
    (AlwaysUpdateMinDistance with always_update)."""
    xa2 = _norm2(_sub(x, a))
    xb2 = _norm2(_sub(x, b))
    ab2 = _norm2(_sub(a, b))
    max_error = 4.75 * DBL_EPS * (xa2 + xb2 + ab2) + 8 * DBL_EPS * DBL_EPS
    if abs(xa2 - xb2) < ab2 + max_error:
        c = stable_cross_prod(a, b)
        c2 = _norm2(c)
        x_dot_c = E.dot(x, c)
        cx = E.cross(c, x)
        if not (E.dot(_sub(a, x), cx) >= 0 or E.dot(_sub(b, x), cx) <= 0):
            qr = 1 - math.sqrt(_norm2(cx) / c2)
            return (x_dot_c * x_dot_c / c2) + qr * qr
    return min(xa2, xb2)


def edge_distance(x, a, b) -> float:
    """Angular distance (radians) point->edge."""
    d2 = min(edge_distance2(x, a, b), 4.0)
    return 2 * math.asin(0.5 * math.sqrt(d2))


def project_to_edge(x, a, b):
    """Closest point on edge (a,b) to x (S2EdgeDistances.Project)."""
    if x == a or x == b:
        return x
    if a == b:  # degenerate edge: the single point is the projection
        return a
    n = _normalize(stable_cross_prod(a, b))
    p = _normalize(E.cross(E.cross(n, x), n))
    pn = E.cross(p, n)
    if E.sign(p, n, a, pn) > 0 and E.sign(p, n, b, pn) < 0:
        return p
    return a if _norm2(_sub(x, a)) <= _norm2(_sub(x, b)) else b


def point_on_line(a, b, radians: float):
    """Point at angular distance r from a along the geodesic toward b."""
    direction = _normalize(E.cross(stable_cross_prod(a, b), a))
    cr, sr = math.cos(radians), math.sin(radians)
    return _normalize(
        (cr * a[0] + sr * direction[0],
         cr * a[1] + sr * direction[1],
         cr * a[2] + sr * direction[2])
    )


def edge_distance2_batch(
    px: np.ndarray, py: np.ndarray, pz: np.ndarray, a, b
) -> np.ndarray:
    """Vectorized squared-chord distance from unit-point batch to one
    edge — the kNN-to-edges inner kernel."""
    ax, ay, az = a
    bx, by, bz = b
    xa2 = (px - ax) ** 2 + (py - ay) ** 2 + (pz - az) ** 2
    xb2 = (px - bx) ** 2 + (py - by) ** 2 + (pz - bz) ** 2
    ab2 = _norm2(_sub(a, b))
    c = stable_cross_prod(a, b)
    c2 = _norm2(c)
    x_dot_c = px * c[0] + py * c[1] + pz * c[2]
    cxx = c[1] * pz - c[2] * py
    cxy = c[2] * px - c[0] * pz
    cxz = c[0] * py - c[1] * px
    inner_lo = (ax - px) * cxx + (ay - py) * cxy + (az - pz) * cxz
    inner_hi = (bx - px) * cxx + (by - py) * cxy + (bz - pz) * cxz
    interior = (inner_lo < 0) & (inner_hi > 0)
    max_error = 4.75 * DBL_EPS * (xa2 + xb2 + ab2) + 8 * DBL_EPS * DBL_EPS
    near = np.abs(xa2 - xb2) < ab2 + max_error
    # degenerate edge (a == b): c2 == 0, interior is all-False and the
    # np.where discards d_int — silence the division like the rows twin
    with np.errstate(divide="ignore", invalid="ignore"):
        qr = 1 - np.sqrt((cxx * cxx + cxy * cxy + cxz * cxz) / c2)
        d_int = (x_dot_c * x_dot_c / c2) + qr * qr
    return np.where(near & interior, d_int, np.minimum(xa2, xb2))


def float_edges(edges) -> list:
    """An edge list [(a, b), ...] with every endpoint a tuple of Python
    floats: the form ``edges_min_distance2`` takes, prepared once per
    shape (the values are the same doubles)."""
    return [(tuple(map(float, a)), tuple(map(float, b))) for a, b in edges]


def chain_edges(verts, closed: bool = False) -> list:
    """Float-tuple edges of a vertex chain; ``closed`` adds the edge from
    the last vertex back to the first (a loop ring)."""
    vt = [tuple(map(float, v)) for v in verts]
    return list(zip(vt, vt[1:] + vt[:1] if closed else vt[1:]))


def edges_min_distance2(
    px: np.ndarray, py: np.ndarray, pz: np.ndarray, edges
) -> np.ndarray:
    """Min squared-chord distance from each point of a batch to an edge
    list (``float_edges`` / ``chain_edges`` form); +inf with no edges.
    ``np.minimum`` is exact, so the edge order does not change a bit."""
    d2 = np.full(len(px), np.inf)
    for a, b in edges:
        np.minimum(d2, edge_distance2_batch(px, py, pz, a, b), out=d2)
    return d2


def region_distance2(
    px: np.ndarray, py: np.ndarray, pz: np.ndarray, edges, origin_inside
) -> np.ndarray:
    """Squared-chord distance from each point to a region (boundary
    edges plus interior): exactly 0.0 where the crossing parity
    (``edges.crossing_parity_fast_edges`` XOR ``origin_inside``) says
    the point is inside, else the edge fold, which only the exterior
    rows pay (S2ClosestEdgeQueryBase.cs:224-238 VisitContainingShapes).
    ``edges`` may hold several rings (winding parity)."""
    inside = (
        E.crossing_parity_fast_edges(edges, px, py, pz) ^ int(origin_inside)
    ).astype(bool)
    d2 = np.zeros(len(px))
    out = ~inside
    if out.any():
        d2[out] = edges_min_distance2(px[out], py[out], pz[out], edges)
    return d2


def edge_distance2_rows(
    px: np.ndarray, py: np.ndarray, pz: np.ndarray,
    ax: np.ndarray, ay: np.ndarray, az: np.ndarray,
    bx: np.ndarray, by: np.ndarray, bz: np.ndarray,
) -> np.ndarray:
    """Row-vectorized twin of ``edge_distance2_batch``: point AND edge
    vary per row (the candidate-row shape the distributed closest-edge
    join produces).  Every expression is element-wise identical to the
    scalar-edge form — numpy has no FMA contraction, so the results are
    bit-identical double for double, which is what lets the distributed
    arm tie-break exactly like the broadcast arm."""
    xa2 = (px - ax) ** 2 + (py - ay) ** 2 + (pz - az) ** 2
    xb2 = (px - bx) ** 2 + (py - by) ** 2 + (pz - bz) ** 2
    # _norm2(_sub(a, b)) with per-row edges
    dabx, daby, dabz = ax - bx, ay - by, az - bz
    ab2 = dabx * dabx + daby * daby + dabz * dabz
    # stable_cross_prod(a, b) = cross(a - b, a + b), per row
    sabx, saby, sabz = ax + bx, ay + by, az + bz
    c0 = daby * sabz - dabz * saby
    c1 = dabz * sabx - dabx * sabz
    c2_ = dabx * saby - daby * sabx
    c2 = c0 * c0 + c1 * c1 + c2_ * c2_
    x_dot_c = px * c0 + py * c1 + pz * c2_
    cxx = c1 * pz - c2_ * py
    cxy = c2_ * px - c0 * pz
    cxz = c0 * py - c1 * px
    inner_lo = (ax - px) * cxx + (ay - py) * cxy + (az - pz) * cxz
    inner_hi = (bx - px) * cxx + (by - py) * cxy + (bz - pz) * cxz
    interior = (inner_lo < 0) & (inner_hi > 0)
    max_error = 4.75 * DBL_EPS * (xa2 + xb2 + ab2) + 8 * DBL_EPS * DBL_EPS
    near = np.abs(xa2 - xb2) < ab2 + max_error
    with np.errstate(divide="ignore", invalid="ignore"):
        qr = 1 - np.sqrt((cxx * cxx + cxy * cxy + cxz * cxz) / c2)
        d_int = (x_dot_c * x_dot_c / c2) + qr * qr
    return np.where(near & interior, d_int, np.minimum(xa2, xb2))


class Polyline:
    """Vertex chain on the sphere (S2Region/S2Polyline.cs)."""

    def __init__(self, verts):
        self.verts = [tuple(float(x) for x in v) for v in np.asarray(verts)]
        assert len(self.verts) >= 1

    def length(self) -> float:
        """Sum of edge angles (radians)."""
        return sum(
            vec_angle(self.verts[i - 1], self.verts[i])
            for i in range(1, len(self.verts))
        )

    def interpolate(self, fraction: float):
        """Point at `fraction` of the arc length (GetSuffix semantics);
        returns (point, next_vertex)."""
        v = self.verts
        if fraction <= 0:
            return v[0], 1
        total = self.length()
        target = fraction * total
        for i in range(1, len(v)):
            seg = vec_angle(v[i - 1], v[i])
            if target < seg:
                result = point_on_line(v[i - 1], v[i], target)
                return result, (i + 1 if result == v[i] else i)
            target -= seg
        return v[-1], len(v)

    def uninterpolate(self, point, next_vertex: int) -> float:
        """Inverse of interpolate: fraction of arc length to `point`."""
        v = self.verts
        if len(v) < 2:
            return 0.0
        length_sum = 0.0
        for i in range(1, next_vertex):
            length_sum += vec_angle(v[i - 1], v[i])
        length_to_point = length_sum + vec_angle(v[next_vertex - 1], tuple(point))
        for i in range(next_vertex, len(v)):
            length_sum += vec_angle(v[i - 1], v[i])
        return min(1.0, length_to_point / length_sum)

    def project(self, point):
        """Closest point on the polyline; returns (point, next_vertex)."""
        v = self.verts
        point = tuple(float(x) for x in point)
        if len(v) == 1:
            return v[0], 1
        dists = [
            edge_distance2(point, v[i - 1], v[i]) for i in range(1, len(v))
        ]
        min_index = int(np.argmin(dists)) + 1
        closest = project_to_edge(point, v[min_index - 1], v[min_index])
        return closest, min_index + (1 if closest == v[min_index] else 0)

    def is_on_right(self, point) -> bool:
        """RHS test w.r.t. the closest segment
        (S2Polyline.cs:340-366 IsOnRight)."""
        point = tuple(float(x) for x in point)
        v = self.verts
        closest, next_vertex = self.project(point)
        # if the closest point C is an INTERIOR vertex, P is on the
        # right iff (prev, P, next) are ordered CCW around C — testing
        # a single adjacent edge's great circle gives the wrong side
        # at reflex corners (S2Polyline.cs:351-360)
        if (
            closest == v[next_vertex - 1]
            and 1 < next_vertex < len(v)
        ):
            if point == v[next_vertex - 1]:
                return False  # polyline vertices are not on the RHS
            return E.ordered_ccw(
                v[next_vertex - 2], point, v[next_vertex],
                v[next_vertex - 1],
            )
        # otherwise C is incident to exactly one edge; test against it
        i = min(max(next_vertex, 1), len(v) - 1)
        return E.sign(point, v[i - 1], v[i]) < 0


def edge_true_centroid(a, b):
    """True centroid of a geodesic edge, multiplied by its length
    (S2Centroid.TrueCentroid)."""
    vdiff = _sub(a, b)
    vsum = (a[0] + b[0], a[1] + b[1], a[2] + b[2])
    sin2 = _norm2(vdiff)
    cos2 = _norm2(vsum)
    if cos2 == 0:
        return (0.0, 0.0, 0.0)  # antipodal edge: undefined, ignore
    k = math.sqrt(sin2 / cos2)
    return (k * vsum[0], k * vsum[1], k * vsum[2])


def polyline_centroid(verts) -> tuple:
    """Sum of edge true centroids (length-weighted, NOT unit length;
    S2PolylineMeasures.GetCentroid)."""
    cx = cy = cz = 0.0
    vt = [tuple(float(x) for x in v) for v in verts]
    for a, b in zip(vt, vt[1:]):
        ex, ey, ez = edge_true_centroid(a, b)
        cx += ex
        cy += ey
        cz += ez
    return (cx, cy, cz)
