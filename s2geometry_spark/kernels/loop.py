"""S2Loop-equivalent region: a single closed geodesic ring.

Driver-side Region implementation for the coverer (the loop dim table
is small; the 10^12-row fact side only ever sees covering cell ids and
the vectorized parity kernel).  Semantics:

- containment parity + origin bit:  S2Region/S2Loop.cs (InitOriginAndBound,
  Contains), via kernels.edges
- rect bound of an edge chain:      S2LatLngRectBounder.cs:140-260
  (conservative; pole-crossing edges handled via the max-latitude of the
  great circle through each edge)
- cell pruning (MayIntersect/Contains(S2Cell)): conservative
  rect-interval tests per edge — over-inclusive for MayIntersect (the
  exact refine downstream removes false candidates) and under-inclusive
  for Contains (an interior cell is only claimed when provably no edge
  touches it and its center is inside), which preserves join exactness
  (SURVEY.md §2.4 point-in-polygon refine).
"""

from __future__ import annotations

import math

import numpy as np

from . import edges as E
from .geom import (
    PI,
    PI_2,
    Cap,
    Cell,
    LatLngRect,
    R1Interval,
    Region,
    S1Interval,
    latitude,
    longitude,
)

DBL_EPS = E.DBL_EPS


class RectBounder:
    """Conservative lat/lng bound of a vertex chain
    (S2LatLngRectBounder.cs)."""

    def __init__(self) -> None:
        self.bound = LatLngRect.empty()
        self._a = None
        self._a_lat = 0.0
        self._a_lng = 0.0

    def add_point(self, b) -> None:
        b_lat, b_lng = latitude(b), longitude(b)
        if self.bound.is_empty():
            self.bound = LatLngRect(
                R1Interval(b_lat, b_lat), S1Interval(b_lng, b_lng)
            )
        else:
            a = self._a
            # N = 2*(A x B) — zero (not arbitrary) for proportional inputs
            n = E.cross(
                (a[0] - b[0], a[1] - b[1], a[2] - b[2]),
                (a[0] + b[0], a[1] + b[1], a[2] + b[2]),
            )
            n_norm = math.sqrt(E.dot(n, n))
            if n_norm < 1.91346e-15:
                # nearly identical or antipodal endpoints
                if E.dot(a, b) < 0:
                    self.bound = LatLngRect(
                        R1Interval(-PI_2, PI_2), S1Interval.full()
                    )
                else:
                    self.bound = self.bound.union_rect(
                        _rect_from_point_pair(
                            self._a_lat, self._a_lng, b_lat, b_lng
                        )
                    )
            else:
                lng_ab = S1Interval.from_point_pair(self._a_lng, b_lng)
                if lng_ab.get_length() >= PI - 2 * DBL_EPS:
                    lng_ab = S1Interval.full()
                lat_ab = R1Interval.from_point_pair(self._a_lat, b_lat)
                # does AB attain its min/max latitude in the interior?
                m = E.cross(n, (0.0, 0.0, 1.0))
                m_a = E.dot(m, a)
                m_b = E.dot(m, b)
                m_error = 6.06638e-16 * n_norm + 6.83174e-31
                if m_a * m_b < 0 or abs(m_a) <= m_error or abs(m_b) <= m_error:
                    max_lat = min(
                        math.atan2(
                            math.sqrt(n[0] * n[0] + n[1] * n[1]), abs(n[2])
                        )
                        + 3 * DBL_EPS,
                        PI_2,
                    )
                    d = (a[0] - b[0], a[1] - b[1], a[2] - b[2])
                    lat_budget_z = (
                        0.5 * math.sqrt(E.dot(d, d)) * math.sin(max_lat)
                    )
                    lat_budget = 2 * math.asin(
                        min((1 + 4 * DBL_EPS) * lat_budget_z, 1.0)
                    )
                    max_delta = (
                        0.5 * (lat_budget - (lat_ab.hi - lat_ab.lo)) + DBL_EPS
                    )
                    lo, hi = lat_ab.lo, lat_ab.hi
                    if m_a <= m_error and m_b >= -m_error:
                        hi = min(max_lat, hi + max_delta)
                    if m_b <= m_error and m_a >= -m_error:
                        lo = max(-max_lat, lo - max_delta)
                    lat_ab = R1Interval(lo, hi)
                self.bound = self.bound.union_rect(LatLngRect(lat_ab, lng_ab))
        self._a = b
        self._a_lat, self._a_lng = b_lat, b_lng

    def get_bound(self) -> LatLngRect:
        """Expand by the S2LatLng conversion error, close at poles."""
        lat = R1Interval(self.bound.lat.lo - 2 * DBL_EPS,
                         self.bound.lat.hi + 2 * DBL_EPS)
        lat = lat.intersection(R1Interval(-PI_2, PI_2))
        return LatLngRect(lat, self.bound.lng).polar_closure()


def _rect_from_point_pair(lat1, lng1, lat2, lng2) -> LatLngRect:
    return LatLngRect(
        R1Interval.from_point_pair(lat1, lat2),
        S1Interval.from_point_pair(lng1, lng2),
    )


def edge_chain_bound(verts: np.ndarray, closed: bool = True) -> LatLngRect:
    rb = RectBounder()
    for v in verts:
        rb.add_point((float(v[0]), float(v[1]), float(v[2])))
    if closed and len(verts):
        v = verts[0]
        rb.add_point((float(v[0]), float(v[1]), float(v[2])))
    return rb.get_bound()


class _EdgeRegion(Region):
    """Cell pruning of a region bounded by edges (Loop, Polygon): a
    cell whose rect bound no boundary edge's bound touches is uniformly
    inside or outside, decided by its center."""

    _OUT, _EDGE, _IN = 0, 1, 2
    # (cell, state) of the last cell classified: the coverer asks
    # may_intersect_cell and then contains_cell of the same cell
    _last_cell = (None, _OUT)

    def _cell_state(self, cell: Cell) -> int:
        last, state = self._last_cell
        if last is cell:
            return state
        cb = cell.get_rect_bound()
        if not self.bound.intersects_rect(cb):
            state = self._OUT
        elif self._boundary_may_intersect(cb):
            state = self._EDGE
        elif self.contains_point(cell.center()):
            state = self._IN
        else:
            state = self._OUT
        self._last_cell = (cell, state)
        return state

    def may_intersect_cell(self, cell: Cell) -> bool:
        return self._cell_state(cell) != self._OUT

    def contains_cell(self, cell: Cell) -> bool:
        # conservative: only claims cells no boundary edge may touch
        return self._cell_state(cell) == self._IN


class Loop(_EdgeRegion):
    """Closed CCW geodesic ring; interior = left of the edges."""

    def __init__(self, verts: np.ndarray):
        verts = np.asarray(verts, dtype=np.float64)
        assert verts.ndim == 2 and verts.shape[1] == 3 and len(verts) >= 3
        self.verts = verts
        # per-loop parity constants FIRST — origin_inside and the two
        # pole checks below all reuse them (rebuilding ParityPrep per
        # call is O(edges) and was paid 3x per Loop)
        self._parity_prep = E.ParityPrep(verts)
        self.origin_inside = E.loop_origin_inside(verts, self._parity_prep)
        bound = edge_chain_bound(verts)
        # S2Loop.InitBound: the edge-chain bound misses interiors that
        # wrap a pole — expand to the pole + full longitude when the
        # loop contains it.
        if self._contains_nobound((0.0, 0.0, 1.0)):
            bound = LatLngRect(
                R1Interval(bound.lat.lo, PI_2), S1Interval.full()
            )
        if self._contains_nobound((0.0, 0.0, -1.0)):
            bound = LatLngRect(
                R1Interval(-PI_2, bound.lat.hi), S1Interval.full()
            )
        self.bound = bound
        # per-edge conservative rect bounds for cell pruning
        self._edge_bounds = []
        n = len(verts)
        for k in range(n):
            rb = RectBounder()
            for v in (verts[k], verts[(k + 1) % n]):
                rb.add_point((float(v[0]), float(v[1]), float(v[2])))
            self._edge_bounds.append(rb.get_bound())
        # columnar copies for the vectorized per-cell edge test (the
        # O(edges) any() loop is the coverer hot path for big loops)
        self._eb_lat_lo = np.array([b.lat.lo for b in self._edge_bounds])
        self._eb_lat_hi = np.array([b.lat.hi for b in self._edge_bounds])
        self._eb_lng_lo = np.array([b.lng.lo for b in self._edge_bounds])
        self._eb_lng_hi = np.array([b.lng.hi for b in self._edge_bounds])

    @property
    def edges(self) -> list:
        n = len(self.verts)
        return [(self.verts[k], self.verts[(k + 1) % n]) for k in range(n)]

    # -- point containment (robust) ------------------------------------

    def _contains_nobound(self, p) -> bool:
        return bool(
            E.loop_contains_points(
                self.verts, np.asarray([p], dtype=np.float64),
                self.origin_inside, getattr(self, "_parity_prep", None),
            )[0]
        )

    def contains_point(self, p) -> bool:
        if not self.bound.contains_ll(latitude(p), longitude(p)):
            return False
        return bool(
            E.loop_contains_points(
                self.verts, np.asarray([p], dtype=np.float64),
                self.origin_inside, self._parity_prep,
            )[0]
        )

    def contains_points(self, points: np.ndarray) -> np.ndarray:
        return E.loop_contains_points(
            self.verts, points, self.origin_inside, self._parity_prep
        )

    # -- region contract ------------------------------------------------

    def get_rect_bound(self) -> LatLngRect:
        return self.bound

    def get_cap_bound(self) -> Cap:
        return self.bound.get_cap_bound()

    def edges_intersecting_rect(self, rect: LatLngRect) -> np.ndarray:
        """Boolean mask over edges whose conservative rect bound
        intersects `rect` — vectorized S1Interval/R1Interval
        intersection (superset of the edges that truly intersect any
        region inside `rect`, e.g. an S2 cell)."""
        if rect.is_empty():
            return np.zeros(len(self._eb_lat_lo), dtype=bool)
        lat_ok = (self._eb_lat_lo <= rect.lat.hi) & (
            rect.lat.lo <= self._eb_lat_hi
        )
        # S1Interval.intersects with scalar y = rect.lng (edge lng
        # intervals are never empty; handle inverted on either side)
        inv_x = self._eb_lng_lo > self._eb_lng_hi
        ylo, yhi = rect.lng.lo, rect.lng.hi
        overlap = (ylo <= self._eb_lng_hi) | (yhi >= self._eb_lng_lo)
        if ylo > yhi:  # y inverted
            lng_ok = overlap | inv_x
        else:
            lng_ok = np.where(
                inv_x,
                overlap,
                (ylo <= self._eb_lng_hi) & (yhi >= self._eb_lng_lo),
            )
        return lat_ok & lng_ok

    def _boundary_may_intersect(self, cell_bound: LatLngRect) -> bool:
        return bool(self.edges_intersecting_rect(cell_bound).any())


class Polygon(_EdgeRegion):
    """Multi-loop polygon with holes (S2Region/S2Polygon.cs semantics):
    a point is inside iff the total crossing parity against every
    ring's edges (XOR the combined origin_inside bit) is odd — the
    loop-hierarchy evaluation of S2Polygon.Contains collapsed to one
    parity pass (S2Polygon.cs:1757-1780)."""

    def __init__(self, rings: list[np.ndarray]):
        assert rings
        self.loops = [Loop(np.asarray(r, dtype=np.float64)) for r in rings]
        self.origin_inside = bool(
            np.bitwise_xor.reduce([lp.origin_inside for lp in self.loops])
        )
        self.edges = []
        for lp in self.loops:
            n = len(lp.verts)
            for k in range(n):
                self.edges.append((lp.verts[k], lp.verts[(k + 1) % n]))
        bound = self.loops[0].bound
        for lp in self.loops[1:]:
            # holes are inside the shell, so the union is the shell
            # bound for proper polygons; union keeps it safe regardless
            bound = bound.union_rect(lp.bound)
        self.bound = bound

    def contains_points(self, points: np.ndarray) -> np.ndarray:
        # XOR of per-ring robust containment == total crossing parity
        # of the multi-ring boundary (the same triage->exact kernel
        # Loop uses; the fast general-position kernel gave arbitrary
        # answers for points on/near a ring's great circle)
        res = self.loops[0].contains_points(points)
        for lp in self.loops[1:]:
            res = res ^ lp.contains_points(points)
        return res

    def contains_point(self, p) -> bool:
        if not self.bound.contains_ll(latitude(p), longitude(p)):
            return False
        return bool(
            self.contains_points(np.asarray([p], dtype=np.float64))[0]
        )

    def get_rect_bound(self) -> LatLngRect:
        return self.bound

    def get_cap_bound(self) -> Cap:
        return self.bound.get_cap_bound()

    def _boundary_may_intersect(self, cell_bound: LatLngRect) -> bool:
        # per-ring vectorized rect test — the O(edges) Python any()
        # loop is the coverer hot path for many-edge polygons
        return any(
            bool(lp.edges_intersecting_rect(cell_bound).any())
            for lp in self.loops
        )


# ---------------------------------------------------------------------
# Loop <-> loop relations (S2Loop.cs:463-560 Contains/Intersects,
# shared-vertex wedge rules via S2WedgeRelations)
# ---------------------------------------------------------------------

def _loop_edge_crossing(a: "Loop", b: "Loop") -> bool:
    """Any interior edge crossing between the two boundaries —
    vectorized determinant triage, scalar exact predicate on the rare
    uncertain pairs."""
    av = np.asarray(a.verts)
    bv = np.asarray(b.verts)
    na, nb = len(av), len(bv)
    A0 = np.repeat(av, nb, axis=0)
    A1 = np.repeat(np.roll(av, -1, axis=0), nb, axis=0)
    B0 = np.tile(bv, (na, 1))
    B1 = np.tile(np.roll(bv, -1, axis=0), (na, 1))
    n = np.cross(A0, A1)
    det_c = np.einsum("ij,ij->i", n, B0)
    det_d = np.einsum("ij,ij->i", n, B1)
    cd = np.cross(B0, B1)
    det_b = np.einsum("ij,ij->i", cd, A1)
    det_a = np.einsum("ij,ij->i", cd, A0)
    err = E.MAX_DET_ERROR
    ok = (
        (np.abs(det_c) > err) & (np.abs(det_d) > err)
        & (np.abs(det_b) > err) & (np.abs(det_a) > err)
    )
    s_c, s_d = np.sign(det_c), np.sign(det_d)
    certain_no = (np.abs(det_c) > err) & (np.abs(det_d) > err) & (s_c == s_d)
    crossed = (
        ok & (s_c != s_d)
        & (np.sign(det_b) == s_c) & (np.sign(det_a) == -s_c)
    )
    if crossed.any():
        return True
    for i in np.flatnonzero(~(certain_no | ok)):
        a0 = tuple(float(x) for x in A0[i])
        a1 = tuple(float(x) for x in A1[i])
        b0 = tuple(float(x) for x in B0[i])
        b1 = tuple(float(x) for x in B1[i])
        if E.crossing_sign(a0, a1, b0, b1) > 0:
            return True
    return False


def _shared_vertex_pairs(a: "Loop", b: "Loop"):
    """[(i, j)] with a.verts[i] == b.verts[j]."""
    bmap = {
        tuple(float(x) for x in v): j for j, v in enumerate(np.asarray(b.verts))
    }
    out = []
    for i, v in enumerate(np.asarray(a.verts)):
        j = bmap.get(tuple(float(x) for x in v))
        if j is not None:
            out.append((i, j))
    return out


def loop_contains_loop(a: "Loop", b: "Loop") -> bool:
    """A contains B (S2Loop.Contains(S2Loop)): no interior crossings,
    wedge containment at every shared vertex, else point containment
    with the union-is-sphere check."""
    from . import wedge as W

    if _loop_edge_crossing(a, b):
        return False
    shared = _shared_vertex_pairs(a, b)
    if shared:
        av = np.asarray(a.verts)
        bv = np.asarray(b.verts)
        na, nb = len(av), len(bv)
        for i, j in shared:
            a0 = tuple(float(x) for x in av[(i - 1) % na])
            v = tuple(float(x) for x in av[i])
            a2 = tuple(float(x) for x in av[(i + 1) % na])
            b0 = tuple(float(x) for x in bv[(j - 1) % nb])
            b2 = tuple(float(x) for x in bv[(j + 1) % nb])
            if not W.wedge_contains(a0, v, a2, b0, b2):
                return False
        return True
    if not a.contains_point(tuple(float(x) for x in b.verts[0])):
        return False
    # (A union B) == sphere would make the two boundaries contain each
    # other without interior containment
    if b.contains_point(tuple(float(x) for x in a.verts[0])):
        return False
    return True


def loop_intersects_loop(a: "Loop", b: "Loop") -> bool:
    """A's interior intersects B's interior (S2Loop.Intersects)."""
    from . import wedge as W

    if _loop_edge_crossing(a, b):
        return True
    shared = _shared_vertex_pairs(a, b)
    if shared:
        av = np.asarray(a.verts)
        bv = np.asarray(b.verts)
        na, nb = len(av), len(bv)
        for i, j in shared:
            a0 = tuple(float(x) for x in av[(i - 1) % na])
            v = tuple(float(x) for x in av[i])
            a2 = tuple(float(x) for x in av[(i + 1) % na])
            b0 = tuple(float(x) for x in bv[(j - 1) % nb])
            b2 = tuple(float(x) for x in bv[(j + 1) % nb])
            if W.wedge_intersects(a0, v, a2, b0, b2):
                return True
        return False
    if a.contains_point(tuple(float(x) for x in b.verts[0])):
        return True
    if b.contains_point(tuple(float(x) for x in a.verts[0])):
        return True
    return False


def find_validation_error(verts) -> str | None:
    """S2Loop.FindValidationError (S2Loop.cs:222-260 +
    S2ShapeUtil.EdgePairs.FindSelfIntersection): None if the vertex
    chain is a valid loop, else a message naming the problem —
    unit-length vertices, >= 3 vertices, no degenerate or antipodal
    adjacent pairs, no duplicate vertices, no crossings between
    non-adjacent edges (shared vertices between non-adjacent edges
    count as crossings)."""
    verts = np.asarray(verts, dtype=np.float64).reshape(-1, 3)
    n = len(verts)
    norms = np.einsum("ij,ij->i", verts, verts)
    bad = np.flatnonzero(np.abs(norms - 1.0) > 5e-14)
    if len(bad):
        return f"vertex {int(bad[0])} is not unit length"
    if n < 3:
        return "loops must have at least 3 vertices"
    vt = [tuple(float(x) for x in v) for v in verts]
    for i in range(n):
        if vt[i] == vt[(i + 1) % n]:
            return f"edge {i} is degenerate (duplicate vertex)"
        a, b = verts[i], verts[(i + 1) % n]
        if np.array_equal(a, -b):
            return (
                f"vertices {i} and {(i + 1) % n} are antipodal; "
                "the edge between them is not well-defined"
            )
    seen: dict[tuple, int] = {}
    for i, v in enumerate(vt):
        if v in seen:
            return f"duplicate vertex at positions {seen[v]} and {i}"
        seen[v] = i
    for i in range(n):
        for j in range(i + 1, n):
            adjacent = (j == i + 1) or (i == 0 and j == n - 1)
            if adjacent:
                continue
            s = E.crossing_sign(vt[i], vt[(i + 1) % n], vt[j], vt[(j + 1) % n])
            if s >= 0:
                return f"edges {i} and {j} cross"
    return None


def loop_is_valid(verts) -> bool:
    return find_validation_error(verts) is None


def _wedge_contains_semiwedge(a0, ab1, a2, b2, reverse_b: bool) -> bool:
    """Does wedge A contain the semiwedge (ab1, b2)
    (S2Loop.WedgeContainsSemiwedge)."""
    from . import edges as EE

    if b2 == a0 or b2 == a2:
        # shared or reversed edge
        return (b2 == a0) == reverse_b
    return EE.ordered_ccw(a0, a2, b2, ab1)


def loop_compare_boundary(a: "Loop", b: "Loop", b_is_hole: bool = False) -> int:
    """+1 if A contains B's boundary, -1 if A excludes it, 0 if the
    boundaries cross (S2Loop.CompareBoundary).  Shared edges belong to
    A iff their direction is reversed in B XOR b_is_hole."""
    if _loop_edge_crossing(a, b):
        return 0
    shared = _shared_vertex_pairs(a, b)
    if shared:
        av = np.asarray(a.verts)
        bv = np.asarray(b.verts)
        na, nb = len(av), len(bv)
        contains_edge = excludes_edge = False
        for i, j in shared:
            a0 = tuple(float(x) for x in av[(i - 1) % na])
            v = tuple(float(x) for x in av[i])
            a2 = tuple(float(x) for x in av[(i + 1) % na])
            b2 = tuple(float(x) for x in bv[(j + 1) % nb])
            if _wedge_contains_semiwedge(a0, v, a2, b2, b_is_hole):
                contains_edge = True
            else:
                excludes_edge = True
        if contains_edge and excludes_edge:
            return 0
        return 1 if contains_edge else -1
    return 1 if a.contains_point(tuple(float(x) for x in b.verts[0])) else -1


def loop_contains_nested(a: "Loop", b: "Loop") -> bool:
    """Containment given the loops do not cross (one contains the
    other or they are disjoint; S2Loop.ContainsNested)."""
    from . import wedge as W

    av = np.asarray(a.verts)
    bv = np.asarray(b.verts)
    na, nb = len(av), len(bv)
    target = tuple(float(x) for x in bv[1 % nb])
    m = next(
        (
            i
            for i, v in enumerate(av)
            if tuple(float(x) for x in v) == target
        ),
        -1,
    )
    if m < 0:
        return a.contains_point(target)
    return W.wedge_contains(
        tuple(float(x) for x in av[(m - 1) % na]),
        tuple(float(x) for x in av[m]),
        tuple(float(x) for x in av[(m + 1) % na]),
        tuple(float(x) for x in bv[0]),
        tuple(float(x) for x in bv[2 % nb]),
    )
