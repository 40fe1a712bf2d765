"""Driver-side scalar geometry: intervals, chord angles, S2Cell, S2Cap,
S2LatLngRect.

These implement the IS2Region covering/pruning contract
(S2Region/IS2Region.cs:28-75) used by the RegionCoverer.  They run on
the *driver* over the small region dim table (SURVEY.md §3.2) — the
distributed side only ever sees the resulting covering cell ids and
vectorized refine kernels.  Semantics follow the public S2 library
(reference behavior: S2Region/S2Cap.cs, S2Region/S2LatLngRect.cs,
S2Region/S2Cell.cs, S1ChordAngle.cs, R1Interval.cs, S1Interval.cs).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from ..constants import LIMIT_IJ, MAX_LEVEL, MAX_SITI, POS_BITS
from . import cellid as CI
from .hilbert import KPOS_TO_IJ, KPOS_TO_ORIENTATION, to_face_ij_int

DBL_EPS = 2.220446049250313e-16  # 2^-52, .NET double.Epsilon equivalent used by S2
PI = math.pi
PI_2 = math.pi / 2
PI_4 = math.pi / 4

# kPoleMinLat (S2Cell.cs:35)
POLE_MIN_LAT = math.asin(math.sqrt(1.0 / 3)) - 0.5 * DBL_EPS


# ---------------------------------------------------------------------
# Points (tuples of 3 floats)
# ---------------------------------------------------------------------

def dot(a, b):
    return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]


def cross(a, b):
    return (
        a[1] * b[2] - a[2] * b[1],
        a[2] * b[0] - a[0] * b[2],
        a[0] * b[1] - a[1] * b[0],
    )


def norm2(a):
    return dot(a, a)


def normalize(a):
    n = math.sqrt(norm2(a))
    if n == 0.0:
        return (0.0, 0.0, 0.0)
    return (a[0] / n, a[1] / n, a[2] / n)


def neg(a):
    return (-a[0], -a[1], -a[2])


def sub(a, b):
    return (a[0] - b[0], a[1] - b[1], a[2] - b[2])


def chord2(a, b) -> float:
    """Squared chord length |a-b|^2, the S1ChordAngle length2 of two
    unit points (S1ChordAngle.cs:141-160), clamped to 4."""
    return min(4.0, norm2(sub(a, b)))


def chord_from_radians(radians: float) -> float:
    """S1ChordAngle(S1Angle) ctor: 4*sin^2(min(pi,r)/2); negative -> -1."""
    if radians < 0:
        return -1.0
    s = math.sin(0.5 * min(radians, PI))
    return min(4.0, 4 * s * s)


def clamped_chord2(radians: float) -> float:
    """4*sin^2(r/2) with r clamped to [0, pi]: the squared-chord bound of
    a radius (spatial_join.near_chord2 validates, then calls this)."""
    s = math.sin(0.5 * min(max(radians, 0.0), PI))
    return min(4.0, 4.0 * s * s)


def chord_to_radians(length2: float) -> float:
    if length2 < 0:
        return -1.0
    return 2 * math.asin(0.5 * math.sqrt(length2))


def chord_add(a2: float, b2: float) -> float:
    """Sum of two chord angles (S1ChordAngle.cs:407-432)."""
    if b2 == 0:
        return a2
    if a2 + b2 >= 4.0:
        return 4.0
    x = a2 * (1 - 0.25 * b2)
    y = b2 * (1 - 0.25 * a2)
    return min(4.0, x + y + 2 * math.sqrt(x * y))


def chord_sin2(length2: float) -> float:
    """sin^2 of the chord angle (S1ChordAngle.cs:364-373)."""
    return length2 * (1 - 0.25 * length2)


def latitude(p) -> float:
    return math.atan2(p[2], math.sqrt(p[0] * p[0] + p[1] * p[1]))


def longitude(p) -> float:
    return math.atan2(p[1], p[0])


def ll_to_point(lat_rad: float, lng_rad: float):
    c = math.cos(lat_rad)
    return (math.cos(lng_rad) * c, math.sin(lng_rad) * c, math.sin(lat_rad))


# ---------------------------------------------------------------------
# Intervals
# ---------------------------------------------------------------------

@dataclass(frozen=True)
class R1Interval:
    lo: float
    hi: float

    @staticmethod
    def empty() -> "R1Interval":
        return R1Interval(1.0, 0.0)

    @staticmethod
    def from_point_pair(p1: float, p2: float) -> "R1Interval":
        return R1Interval(min(p1, p2), max(p1, p2))

    def is_empty(self) -> bool:
        return self.lo > self.hi

    def contains(self, p: float) -> bool:
        return self.lo <= p <= self.hi

    def contains_interval(self, y: "R1Interval") -> bool:
        if y.is_empty():
            return True
        return y.lo >= self.lo and y.hi <= self.hi

    def intersects(self, y: "R1Interval") -> bool:
        if self.lo <= y.lo:
            return y.lo <= self.hi and y.lo <= y.hi
        return self.lo <= y.hi and self.lo <= self.hi

    def expanded(self, margin: float) -> "R1Interval":
        if self.is_empty():
            return self
        return R1Interval(self.lo - margin, self.hi + margin)

    def intersection(self, y: "R1Interval") -> "R1Interval":
        return R1Interval(max(self.lo, y.lo), min(self.hi, y.hi))

    def union(self, y: "R1Interval") -> "R1Interval":
        if self.is_empty():
            return y
        if y.is_empty():
            return self
        return R1Interval(min(self.lo, y.lo), max(self.hi, y.hi))


@dataclass(frozen=True)
class S1Interval:
    """Longitude interval with wrap; full=[-pi,pi], empty=[pi,-pi]."""

    lo: float
    hi: float

    @staticmethod
    def full() -> "S1Interval":
        return S1Interval(-PI, PI)

    @staticmethod
    def empty() -> "S1Interval":
        return S1Interval(PI, -PI)

    @staticmethod
    def from_point_pair(p1: float, p2: float) -> "S1Interval":
        if p1 == -PI:
            p1 = PI
        if p2 == -PI:
            p2 = PI
        if _positive_distance(p1, p2) <= PI:
            return S1Interval(p1, p2)
        return S1Interval(p2, p1)

    def is_full(self) -> bool:
        return self.lo == -PI and self.hi == PI

    def is_empty(self) -> bool:
        return self.lo == PI and self.hi == -PI

    def is_inverted(self) -> bool:
        return self.lo > self.hi

    def get_length(self) -> float:
        length = self.hi - self.lo
        if length >= 0:
            return length
        length += 2 * PI
        return length if length > 0 else -1.0

    def fast_contains(self, p: float) -> bool:
        if self.is_inverted():
            return (p >= self.lo or p <= self.hi) and not self.is_empty()
        return self.lo <= p <= self.hi

    def contains(self, p: float) -> bool:
        if p == -PI:
            p = PI
        return self.fast_contains(p)

    def contains_interval(self, y: "S1Interval") -> bool:
        if self.is_inverted():
            if y.is_inverted():
                return y.lo >= self.lo and y.hi <= self.hi
            return (y.lo >= self.lo or y.hi <= self.hi) and not self.is_empty()
        if y.is_inverted():
            return self.is_full() or y.is_empty()
        return y.lo >= self.lo and y.hi <= self.hi

    def intersects(self, y: "S1Interval") -> bool:
        if self.is_empty() or y.is_empty():
            return False
        if self.is_inverted():
            return y.is_inverted() or y.lo <= self.hi or y.hi >= self.lo
        if y.is_inverted():
            return y.lo <= self.hi or y.hi >= self.lo
        return y.lo <= self.hi and y.hi >= self.lo

    def expanded(self, margin: float) -> "S1Interval":
        if margin >= 0:
            if self.is_empty():
                return self
            if self.get_length() + 2 * margin + 2 * DBL_EPS >= 2 * PI:
                return S1Interval.full()
        else:
            if self.is_full():
                return self
            if self.get_length() + 2 * margin - 2 * DBL_EPS <= 0:
                return S1Interval.empty()
        lo = math.remainder(self.lo - margin, 2 * PI)
        hi = math.remainder(self.hi + margin, 2 * PI)
        if lo <= -PI:
            lo = PI
        return S1Interval(lo, hi)

    def get_center(self) -> float:
        """Midpoint with wrap handling (S1Interval.GetCenter)."""
        center = 0.5 * (self.lo + self.hi)
        if not self.is_inverted():
            return center
        return center + PI if center <= 0 else center - PI

    @staticmethod
    def from_point(p: float) -> "S1Interval":
        if p == -PI:
            p = PI
        return S1Interval(p, p)

    def intersection(self, y: "S1Interval") -> "S1Interval":
        """S1Interval.Intersection: shorter original on ambiguity."""
        if y.is_empty():
            return S1Interval.empty()
        if self.fast_contains(y.lo):
            if self.fast_contains(y.hi):
                # either self contains y, or the intersection is two
                # disjoint arcs — return the shorter original interval
                if y.get_length() < self.get_length():
                    return y
                return self
            return S1Interval(y.lo, self.hi)
        if self.fast_contains(y.hi):
            return S1Interval(self.lo, y.hi)
        if y.fast_contains(self.lo):
            return self
        return S1Interval.empty()

    def union(self, y: "S1Interval") -> "S1Interval":
        if y.is_empty():
            return self
        if self.fast_contains(y.lo):
            if self.fast_contains(y.hi):
                if self.contains_interval(y):
                    return self
                return S1Interval.full()
            return S1Interval(self.lo, y.hi)
        if self.fast_contains(y.hi):
            return S1Interval(y.lo, self.hi)
        if self.is_empty() or y.fast_contains(self.lo):
            return y
        dlo = _positive_distance(y.hi, self.lo)
        dhi = _positive_distance(self.hi, y.lo)
        if dlo < dhi:
            return S1Interval(y.lo, self.hi)
        return S1Interval(self.lo, y.hi)


def _positive_distance(a: float, b: float) -> float:
    d = b - a
    if d >= 0:
        return d
    return (b + PI) - (a - PI)


# ---------------------------------------------------------------------
# S2Cell (scalar, driver-side)
# ---------------------------------------------------------------------

class Cell:
    """One S2 cell: face, level, uv-rect (S2Region/S2Cell.cs:11-64).

    A plain Python value: ``id``, ``face``, ``level`` and
    ``orientation`` are ints and the uv bounds are floats; no method
    calls numpy.  The constructor decodes the id once
    (``hilbert.to_face_ij_int``).  ``children()`` follows
    S2Cell.Subdivide and decodes nothing: child ``pos`` starts at the
    parent's ``(i_lo, j_lo)`` plus ``KPOS_TO_IJ[orientation][pos]``
    half-sizes, its orientation is
    ``orientation ^ KPOS_TO_ORIENTATION[pos]``, and its uv bounds come
    from the constructor's ``_st_to_uv(ij / 2^30)`` expression, so both
    ways of making a cell give the same bits.  The four normalized
    vertices and the rect bound are computed once per cell, on first
    use.
    """

    __slots__ = (
        "id", "face", "level", "orientation", "u_lo", "u_hi", "v_lo",
        "v_hi", "_i_lo", "_j_lo", "_vertices", "_rect_bound",
    )

    def __init__(self, cell_id: int):
        # accept either unsigned or signed-LongType representations of
        # the same 64-bit id (Spark hands back signed longs)
        cid = int(cell_id) & 0xFFFFFFFFFFFFFFFF
        face, i, j, orientation = to_face_ij_int(cid)
        level = MAX_LEVEL - ((cid & -cid).bit_length() - 1) // 2
        size = 1 << (MAX_LEVEL - level)
        i_lo = i & -size
        j_lo = j & -size
        self._set(
            cid, face, level, orientation, i_lo, j_lo,
            _st_to_uv(i_lo / LIMIT_IJ), _st_to_uv((i_lo + size) / LIMIT_IJ),
            _st_to_uv(j_lo / LIMIT_IJ), _st_to_uv((j_lo + size) / LIMIT_IJ),
        )

    def _set(self, cid, face, level, orientation, i_lo, j_lo,
             u_lo, u_hi, v_lo, v_hi) -> None:
        self.id = cid
        self.face = face
        self.level = level
        self.orientation = orientation
        self._i_lo = i_lo
        self._j_lo = j_lo
        self.u_lo = u_lo
        self.u_hi = u_hi
        self.v_lo = v_lo
        self.v_hi = v_hi
        self._vertices = None
        self._rect_bound = None

    def is_leaf(self) -> bool:
        return self.level == MAX_LEVEL

    def vertex_raw(self, k: int):
        # CCW order: (lo,lo),(hi,lo),(hi,hi),(lo,hi) (R2Rect.GetVertex)
        j = (k >> 1) & 1
        i = j ^ (k & 1)
        u = self.u_hi if i else self.u_lo
        v = self.v_hi if j else self.v_lo
        return _face_uv_to_xyz(self.face, u, v)

    def vertices(self) -> tuple:
        """The four normalized vertices in ``vertex_raw`` order."""
        vs = self._vertices
        if vs is None:
            vs = self._vertices = tuple(
                normalize(self.vertex_raw(k)) for k in range(4)
            )
        return vs

    def vertex(self, k: int):
        return self.vertices()[k & 3]

    def edge_raw(self, k: int):
        # Outward-facing edge normals (S2Cell.cs:106-112)
        k &= 3
        if k == 0:
            return _get_v_norm(self.face, self.v_lo)  # bottom
        if k == 1:
            return _get_u_norm(self.face, self.u_hi)  # right
        if k == 2:
            return neg(_get_v_norm(self.face, self.v_hi))  # top
        return neg(_get_u_norm(self.face, self.u_lo))  # left

    def center_raw(self):
        """Center direction, not unit length (S2CellId.ToPointRaw): the
        center's si/ti is ``2 * ij_lo + size``, as
        ``cellid.center_siti`` computes it."""
        size = 1 << (MAX_LEVEL - self.level)
        return _face_uv_to_xyz(
            self.face,
            _st_to_uv((1.0 / MAX_SITI) * (2 * self._i_lo + size)),
            _st_to_uv((1.0 / MAX_SITI) * (2 * self._j_lo + size)),
        )

    def center(self):
        return normalize(self.center_raw())

    def contains_point(self, p) -> bool:
        """Closed containment with face check + eps expansion
        (S2Cell.cs:646-663)."""
        f = self.face
        comp = p[f % 3] if f < 3 else p[f - 3]
        if (f < 3 and comp <= 0) or (f >= 3 and comp >= 0):
            return False
        u, v = _valid_face_xyz_to_uv(f, p)
        return (
            self.u_lo - DBL_EPS <= u <= self.u_hi + DBL_EPS
            and self.v_lo - DBL_EPS <= v <= self.v_hi + DBL_EPS
        )

    def _latitude(self, i: int, j: int) -> float:
        u = self.u_hi if i else self.u_lo
        v = self.v_hi if j else self.v_lo
        return latitude(_face_uv_to_xyz(self.face, u, v))

    def _longitude(self, i: int, j: int) -> float:
        u = self.u_hi if i else self.u_lo
        v = self.v_hi if j else self.v_lo
        return longitude(_face_uv_to_xyz(self.face, u, v))

    def get_rect_bound(self) -> "LatLngRect":
        """S2Cell.cs:556-624 (computed once per cell)."""
        if self._rect_bound is None:
            self._rect_bound = self._compute_rect_bound()
        return self._rect_bound

    def _compute_rect_bound(self) -> "LatLngRect":
        if self.level > 0:
            u = self.u_lo + self.u_hi
            v = self.v_lo + self.v_hi
            i = 1 if ((u < 0) if _get_u_axis(self.face)[2] == 0 else (u > 0)) else 0
            j = 1 if ((v < 0) if _get_v_axis(self.face)[2] == 0 else (v > 0)) else 0
            lat = R1Interval.from_point_pair(
                self._latitude(i, j), self._latitude(1 - i, 1 - j)
            )
            lng = S1Interval.from_point_pair(
                self._longitude(i, 1 - j), self._longitude(1 - i, j)
            )
            return (
                LatLngRect(lat, lng)
                .expanded_latlng(2 * DBL_EPS, 2 * DBL_EPS)
                .polar_closure()
            )
        bounds = {
            0: LatLngRect(R1Interval(-PI_4, PI_4), S1Interval(-PI_4, PI_4)),
            1: LatLngRect(R1Interval(-PI_4, PI_4), S1Interval(PI_4, 3 * PI_4)),
            2: LatLngRect(R1Interval(POLE_MIN_LAT, PI_2), S1Interval.full()),
            3: LatLngRect(R1Interval(-PI_4, PI_4), S1Interval(3 * PI_4, -3 * PI_4)),
            4: LatLngRect(R1Interval(-PI_4, PI_4), S1Interval(-3 * PI_4, -PI_4)),
            5: LatLngRect(R1Interval(-PI_2, -POLE_MIN_LAT), S1Interval.full()),
        }[self.face]
        return bounds.expanded_latlng(DBL_EPS, 0.0)

    def get_cap_bound(self) -> "Cap":
        """S2Cell.cs:536-554."""
        u = 0.5 * (self.u_lo + self.u_hi)
        v = 0.5 * (self.v_lo + self.v_hi)
        center = normalize(_face_uv_to_xyz(self.face, u, v))
        cap = Cap(center, 0.0)
        for k in range(4):
            cap = cap.add_point(self.vertex(k))
        return cap

    def children(self) -> list["Cell"]:
        """The four children of a non-leaf cell in Hilbert order
        (S2Cell.Subdivide)."""
        level = self.level + 1
        half = 1 << (MAX_LEVEL - level)
        lsb = 1 << (2 * (MAX_LEVEL - level))
        face, orientation = self.face, self.orientation
        i_lo, j_lo = self._i_lo, self._j_lo
        # the uv bounds shared with the parent, then the midlines
        us = (self.u_lo, _st_to_uv((i_lo + half) / LIMIT_IJ), self.u_hi)
        vs = (self.v_lo, _st_to_uv((j_lo + half) / LIMIT_IJ), self.v_hi)
        cid = self.id - 3 * lsb  # child 0: id - 4 * lsb + lsb
        out = []
        for pos in range(4):
            ij = KPOS_TO_IJ[orientation][pos]
            ci = ij >> 1
            cj = ij & 1
            child = Cell.__new__(Cell)
            child._set(
                cid, face, level, orientation ^ KPOS_TO_ORIENTATION[pos],
                i_lo + ci * half, j_lo + cj * half,
                us[ci], us[ci + 1], vs[cj], vs[cj + 1],
            )
            out.append(child)
            cid += 2 * lsb
        return out


def _st_to_uv(s: float) -> float:
    if s >= 0.5:
        return (1.0 / 3.0) * (4 * s * s - 1)
    return (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s))


def _face_uv_to_xyz(face: int, u: float, v: float):
    if face == 0:
        return (1.0, u, v)
    if face == 1:
        return (-u, 1.0, v)
    if face == 2:
        return (-u, -v, 1.0)
    if face == 3:
        return (-1.0, -v, -u)
    if face == 4:
        return (v, -1.0, -u)
    return (v, u, -1.0)


def _valid_face_xyz_to_uv(face: int, p):
    x, y, z = p
    if face == 0:
        return y / x, z / x
    if face == 1:
        return -x / y, z / y
    if face == 2:
        return -x / z, -y / z
    if face == 3:
        return z / x, y / x
    if face == 4:
        return z / y, -x / y
    return -y / z, -x / z


def _get_u_norm(face: int, u: float):
    if face == 0:
        return (u, -1.0, 0.0)
    if face == 1:
        return (1.0, u, 0.0)
    if face == 2:
        return (1.0, 0.0, u)
    if face == 3:
        return (-u, 0.0, 1.0)
    if face == 4:
        return (0.0, -u, 1.0)
    return (0.0, -1.0, -u)


def _get_v_norm(face: int, v: float):
    if face == 0:
        return (-v, 0.0, 1.0)
    if face == 1:
        return (0.0, -v, 1.0)
    if face == 2:
        return (0.0, -1.0, -v)
    if face == 3:
        return (v, -1.0, 0.0)
    if face == 4:
        return (1.0, v, 0.0)
    return (1.0, 0.0, v)


_UVW_AXES = [
    # face: (u-axis, v-axis, norm)
    ((0, 1, 0), (0, 0, 1), (1, 0, 0)),
    ((-1, 0, 0), (0, 0, 1), (0, 1, 0)),
    ((-1, 0, 0), (0, -1, 0), (0, 0, 1)),
    ((0, 0, -1), (0, -1, 0), (-1, 0, 0)),
    ((0, 0, -1), (1, 0, 0), (0, -1, 0)),
    ((0, 1, 0), (1, 0, 0), (0, 0, -1)),
]


def _get_u_axis(face: int):
    return _UVW_AXES[face][0]


def _get_v_axis(face: int):
    return _UVW_AXES[face][1]


# ---------------------------------------------------------------------
# Regions
# ---------------------------------------------------------------------

def intersects_lng_edge(a, b, lat: R1Interval, lng: float) -> bool:
    """Segment AB vs a constant-longitude edge (a geodesic;
    S2LatLngRect.IntersectsLngEdge)."""
    from .edges import crossing_sign

    p1 = ll_to_point(lat.lo, lng)
    p2 = ll_to_point(lat.hi, lng)
    return crossing_sign(
        tuple(map(float, a)), tuple(map(float, b)), p1, p2
    ) > 0


def intersects_lat_edge(a, b, lat: float, lng: S1Interval) -> bool:
    """Segment AB vs a constant-latitude curve
    (S2LatLngRect.IntersectsLatEdge: 0, 1 or 2 intersections)."""
    from .polyline_ops import robust_cross_prod

    z = normalize(robust_cross_prod(tuple(a), tuple(b)))
    if z[2] < 0:
        z = neg(z)
    y = normalize(robust_cross_prod(z, (0.0, 0.0, 1.0)))
    x = cross(y, z)
    sin_lat = math.sin(lat)
    if abs(sin_lat) >= x[2]:
        return False
    cos_theta = sin_lat / x[2]
    sin_theta = math.sqrt(1 - cos_theta * cos_theta)
    theta = math.atan2(sin_theta, cos_theta)
    ab_theta = S1Interval.from_point_pair(
        math.atan2(dot(a, y), dot(a, x)),
        math.atan2(dot(b, y), dot(b, x)),
    )
    if ab_theta.contains(theta):
        isect = (
            x[0] * cos_theta + y[0] * sin_theta,
            x[1] * cos_theta + y[1] * sin_theta,
            x[2] * cos_theta + y[2] * sin_theta,
        )
        if lng.contains(math.atan2(isect[1], isect[0])):
            return True
    if ab_theta.contains(-theta):
        isect = (
            x[0] * cos_theta - y[0] * sin_theta,
            x[1] * cos_theta - y[1] * sin_theta,
            x[2] * cos_theta - y[2] * sin_theta,
        )
        if lng.contains(math.atan2(isect[1], isect[0])):
            return True
    return False


class Region:
    """Covering/pruning contract (IS2Region.cs:28-75)."""

    def get_cap_bound(self) -> "Cap":
        raise NotImplementedError

    def get_cell_union_bound(self) -> list[int]:
        return self.get_cap_bound().get_cell_union_bound()

    def contains_cell(self, cell: Cell) -> bool:
        raise NotImplementedError

    def may_intersect_cell(self, cell: Cell) -> bool:
        raise NotImplementedError

    def contains_point(self, p) -> bool:
        raise NotImplementedError


class Cap(Region):
    """Spherical cap: center unit point + chord-angle radius
    (S2Region/S2Cap.cs)."""

    __slots__ = ("center", "radius2")

    def __init__(self, center, radius2: float):
        self.center = center
        self.radius2 = radius2  # squared chord length, [-1, 4]

    @staticmethod
    def from_center_radians(center, radians: float) -> "Cap":
        return Cap(center, chord_from_radians(radians))

    def is_empty(self) -> bool:
        return self.radius2 < 0

    def is_full(self) -> bool:
        return self.radius2 == 4.0

    def height(self) -> float:
        return 0.5 * self.radius2

    def radius_radians(self) -> float:
        return chord_to_radians(self.radius2)

    def complement(self) -> "Cap":
        if self.is_full():
            return Cap(neg(self.center), -1.0)
        if self.is_empty():
            return Cap(neg(self.center), 4.0)
        return Cap(neg(self.center), 4.0 - self.radius2)

    def contains_point(self, p) -> bool:
        return chord2(self.center, p) <= self.radius2

    def contains_cap(self, other: "Cap") -> bool:
        if self.is_full() or other.is_empty():
            return True
        return self.radius2 >= chord_add(
            chord2(self.center, other.center), other.radius2
        )

    def intersects_cap(self, other: "Cap") -> bool:
        if self.is_empty() or other.is_empty():
            return False
        return chord_add(self.radius2, other.radius2) >= chord2(
            self.center, other.center
        )

    def add_point(self, p) -> "Cap":
        if self.is_empty():
            return Cap(p, 0.0)
        return Cap(self.center, max(self.radius2, chord2(self.center, p)))

    def expanded(self, radians: float) -> "Cap":
        if self.is_empty():
            return self
        return Cap(self.center, chord_add(self.radius2, chord_from_radians(radians)))

    def get_cap_bound(self) -> "Cap":
        return self

    def get_rect_bound(self) -> "LatLngRect":
        """S2Cap.cs:367-418."""
        if self.is_empty():
            return LatLngRect.empty()
        center_lat = latitude(self.center)
        center_lng = longitude(self.center)
        cap_angle = self.radius_radians()
        all_longitudes = False
        lat_lo = center_lat - cap_angle
        if lat_lo <= -PI_2:
            lat_lo = -PI_2
            all_longitudes = True
        lat_hi = center_lat + cap_angle
        if lat_hi >= PI_2:
            lat_hi = PI_2
            all_longitudes = True
        lng_lo, lng_hi = -PI, PI
        if not all_longitudes:
            sin_a = math.sin(cap_angle)
            sin_c = math.cos(center_lat)
            if sin_a <= sin_c:
                angle_a = math.asin(sin_a / sin_c)
                lng_lo = math.remainder(center_lng - angle_a, 2 * PI)
                lng_hi = math.remainder(center_lng + angle_a, 2 * PI)
        return LatLngRect(R1Interval(lat_lo, lat_hi), S1Interval(lng_lo, lng_hi))

    def get_cell_union_bound(self) -> list[int]:
        """At most 4 cells sharing the vertex nearest the center, or the
        6 faces (S2Cap.cs:423-447)."""
        from ..constants import KMIN_WIDTH

        level = KMIN_WIDTH.get_level_for_min_value(self.radius_radians()) - 1
        if level < 0:
            return [(f << POS_BITS) | (1 << (POS_BITS - 1)) for f in range(6)]
        return CI._vertex_neighbors_one(
            CI.xyz_to_cellid_one(*self.center), level
        )

    def intersects_cell(self, cell: Cell) -> bool:
        """Exact cap-cell intersection: S2Cap.MayIntersect
        (S2Cap.cs:467-478) is an exact test, so Intersects == it."""
        return self.may_intersect_cell(cell)

    def contains_cell(self, cell: Cell) -> bool:
        """S2Cap.cs:449-465."""
        vertices = cell.vertices()
        for v in vertices:
            if not self.contains_point(v):
                return False
        return not self.complement()._intersects_cell(cell, vertices)

    def may_intersect_cell(self, cell: Cell) -> bool:
        """S2Cap.cs:467-478."""
        vertices = cell.vertices()
        for v in vertices:
            if self.contains_point(v):
                return True
        return self._intersects_cell(cell, vertices)

    def _intersects_cell(self, cell: Cell, vertices) -> bool:
        """S2Cap.cs:285-333: cap-vs-cell interior intersection given no
        vertex is contained."""
        if self.radius2 >= 2.0:  # >= Right (90deg)
            return False
        if self.is_empty():
            return False
        if cell.contains_point(self.center):
            return True
        sin2_angle = chord_sin2(self.radius2)
        for k in range(4):
            edge = cell.edge_raw(k)
            d = dot(self.center, edge)
            if d > 0:
                continue
            if d * d > sin2_angle * norm2(edge):
                return False
            direction = cross(edge, self.center)
            if dot(direction, vertices[k]) < 0 and dot(direction, vertices[(k + 1) & 3]) > 0:
                return True
        return False


class LatLngRect(Region):
    """Latitude x longitude rectangle (S2Region/S2LatLngRect.cs)."""

    __slots__ = ("lat", "lng")

    def __init__(self, lat: R1Interval, lng: S1Interval):
        self.lat = lat
        self.lng = lng

    @staticmethod
    def empty() -> "LatLngRect":
        return LatLngRect(R1Interval.empty(), S1Interval.empty())

    @staticmethod
    def from_degrees(lat_lo, lng_lo, lat_hi, lng_hi) -> "LatLngRect":
        return LatLngRect(
            R1Interval(math.radians(lat_lo), math.radians(lat_hi)),
            S1Interval(math.radians(lng_lo), math.radians(lng_hi)),
        )

    def is_empty(self) -> bool:
        return self.lat.is_empty()

    def contains_ll(self, lat_rad: float, lng_rad: float) -> bool:
        return self.lat.contains(lat_rad) and self.lng.contains(lng_rad)

    def contains_point(self, p) -> bool:
        return self.contains_ll(latitude(p), longitude(p))

    def contains_rect(self, y: "LatLngRect") -> bool:
        return self.lat.contains_interval(y.lat) and self.lng.contains_interval(y.lng)

    def intersects_rect(self, y: "LatLngRect") -> bool:
        return self.lat.intersects(y.lat) and self.lng.intersects(y.lng)

    def union_rect(self, y: "LatLngRect") -> "LatLngRect":
        if self.is_empty():
            return y
        if y.is_empty():
            return self
        return LatLngRect(self.lat.union(y.lat), self.lng.union(y.lng))

    def expanded_latlng(self, lat_margin: float, lng_margin: float) -> "LatLngRect":
        lat = self.lat.expanded(lat_margin)
        lng = self.lng.expanded(lng_margin)
        if lat.is_empty() or lng.is_empty():
            return LatLngRect.empty()
        return LatLngRect(lat.intersection(R1Interval(-PI_2, PI_2)), lng)

    def polar_closure(self) -> "LatLngRect":
        if self.lat.lo == -PI_2 or self.lat.hi == PI_2:
            return LatLngRect(self.lat, S1Interval.full())
        return self

    def get_cap_bound(self) -> Cap:
        """Smaller of pole-axis cap and center-axis cap
        (S2LatLngRect.cs:920-961)."""
        if self.is_empty():
            return Cap((1.0, 0.0, 0.0), -1.0)
        if self.lat.lo + self.lat.hi < 0:
            pole_z, pole_angle = -1.0, PI_2 + self.lat.hi
        else:
            pole_z, pole_angle = 1.0, PI_2 - self.lat.lo
        pole_cap = Cap.from_center_radians(
            (0.0, 0.0, pole_z), (1 + 2 * DBL_EPS) * pole_angle
        )
        if self.lng.get_length() < 2 * PI:
            lng_center = 0.5 * (self.lng.lo + self.lng.hi)
            if self.lng.is_inverted():
                lng_center = lng_center + PI if lng_center <= 0 else lng_center - PI
            mid_cap = Cap(
                ll_to_point(0.5 * (self.lat.lo + self.lat.hi), lng_center), 0.0
            )
            for k in range(4):
                mid_cap = mid_cap.add_point(self.get_vertex(k))
            if mid_cap.height() < pole_cap.height():
                return mid_cap
        return pole_cap

    def get_vertex(self, k: int):
        j = (k >> 1) & 1
        i = j ^ (k & 1)
        lat = self.lat.hi if j else self.lat.lo
        lng = self.lng.hi if i else self.lng.lo
        return ll_to_point(lat, lng)

    def intersects_cell(self, cell: Cell) -> bool:
        """EXACT rectangle-cell intersection
        (S2LatLngRect.Intersects(S2Cell): containment shortcuts, vertex
        membership both ways, then boundary crossings against the two
        straight lng edges and two curved lat edges)."""
        if self.is_empty():
            return False
        if self.contains_point(cell.center_raw()):
            return True
        rect_center = ll_to_point(
            0.5 * (self.lat.lo + self.lat.hi), self.lng.get_center()
        )
        if cell.contains_point(rect_center):
            return True
        if not self.intersects_rect(cell.get_rect_bound()):
            return False
        cell_v = [cell.vertex(i) for i in range(4)]
        cell_ll = [(latitude(v), longitude(v)) for v in cell_v]
        for i in range(4):
            if self.contains_ll(*cell_ll[i]):
                return True
            if cell.contains_point(self.get_vertex(i)):
                return True
        for i in range(4):
            edge_lng = S1Interval.from_point_pair(
                cell_ll[i][1], cell_ll[(i + 1) & 3][1]
            )
            if not self.lng.intersects(edge_lng):
                continue
            a, b = cell_v[i], cell_v[(i + 1) & 3]
            if edge_lng.contains(self.lng.lo):
                if intersects_lng_edge(a, b, self.lat, self.lng.lo):
                    return True
            if edge_lng.contains(self.lng.hi):
                if intersects_lng_edge(a, b, self.lat, self.lng.hi):
                    return True
            if intersects_lat_edge(a, b, self.lat.lo, self.lng):
                return True
            if intersects_lat_edge(a, b, self.lat.hi, self.lng):
                return True
        return False

    def contains_cell(self, cell: Cell) -> bool:
        return self.contains_rect(cell.get_rect_bound())

    def may_intersect_cell(self, cell: Cell) -> bool:
        return self.intersects_rect(cell.get_rect_bound())


# ---------------------------------------------------------------------
# Cell areas (S2Cell.cs:171-213)
# ---------------------------------------------------------------------

def cell_average_area(level: int) -> float:
    from ..constants import KAVG_AREA

    return KAVG_AREA.get_value(level)


def cell_approx_area(cell: Cell) -> float:
    """Flat quadrilateral area with spherical correction
    (S2Cell.cs ApproxArea); accurate to ~3% for level >= 2."""
    if cell.level < 2:
        return cell_average_area(cell.level)
    v = [cell.vertex(k) for k in range(4)]
    d20 = sub(v[2], v[0])
    d31 = sub(v[3], v[1])
    flat = 0.5 * math.sqrt(norm2(cross(d20, d31)))
    return flat * 2 / (1 + math.sqrt(1 - min(flat / math.pi, 1.0)))


def cell_exact_area(cell: Cell) -> float:
    """Two spherical triangles (S2Cell.cs ExactArea)."""
    from . import measures as M

    v = [cell.vertex(k) for k in range(4)]
    return M.triangle_area(v[0], v[1], v[2]) + M.triangle_area(v[0], v[2], v[3])


class RegionUnion(Region):
    """Union of regions (S2RegionUnion.cs): conservative Region
    contract — contains_cell may under-claim (any member containing the
    cell suffices), may_intersect over-claims (any member may)."""

    def __init__(self, regions: list):
        assert regions
        self.regions = list(regions)

    def get_cap_bound(self) -> "Cap":
        cap = self.regions[0].get_cap_bound()
        for r in self.regions[1:]:
            other = r.get_cap_bound()
            # conservative union of caps: expand around the first center
            d2 = chord2(cap.center, other.center)
            import math

            ang = (
                2 * math.asin(min(1.0, 0.5 * math.sqrt(d2)))
                + 2 * math.asin(min(1.0, 0.5 * math.sqrt(min(other.radius2, 4.0))))
            )
            cap = Cap(
                cap.center,
                max(cap.radius2, min(4.0, chord_from_radians(min(ang, 3.14159265358979)))),
            )
        return cap

    def contains_cell(self, cell: Cell) -> bool:
        return any(r.contains_cell(cell) for r in self.regions)

    def may_intersect_cell(self, cell: Cell) -> bool:
        return any(r.may_intersect_cell(cell) for r in self.regions)

    def contains_point(self, p) -> bool:
        return any(r.contains_point(p) for r in self.regions)


class RegionIntersection(Region):
    """Intersection of regions (S2RegionIntersection.cs): conservative
    Region contract — contains_cell requires every member, may_intersect
    over-claims (every member may intersect)."""

    def __init__(self, regions: list):
        assert regions
        self.regions = list(regions)

    def get_cap_bound(self) -> "Cap":
        # any member's bound contains the intersection; pick the smallest
        caps = [r.get_cap_bound() for r in self.regions]
        return min(caps, key=lambda c: c.radius2)

    def contains_cell(self, cell: Cell) -> bool:
        return all(r.contains_cell(cell) for r in self.regions)

    def may_intersect_cell(self, cell: Cell) -> bool:
        return all(r.may_intersect_cell(cell) for r in self.regions)

    def contains_point(self, p) -> bool:
        return all(r.contains_point(p) for r in self.regions)
