"""Robust orientation predicates + vectorized crossing-number containment.

Semantics follow the reference:
- Sign triage/exact/symbolic:        S2Predicates.cs:402-452, ExactSign +
  SymbolicallyPerturbedSign (S2Predicates.cs:455-560)
- CrossingSign state machine:        S2EdgeCrosser.cs:262-296,333-396
- VertexCrossing / EdgeOrVertex:     S2EdgeCrossings.cs:120-216
- point-in-loop parity:              S2Loop contains: crossing count of the
  edge (Origin -> P) against the loop's edge chain, seeded by the loop's
  origin_inside bit (S2Region/S2Loop.cs InitOriginAndBound + Contains)
- fixed reference Origin:            S2PointUtil.cs:15-31
- RefDir/Ortho:                      S2PointUtil.cs:54-74

Two execution tiers:
- ``contains_points`` — the *robust* kernel: float64 triage with the
  reference's error bound, exact integer (Fraction) fallback + symbolic
  perturbation on the (rare) uncertain rows.  Used by tests and any
  caller that needs reference-grade exactness.
- ``crossing_parity_fast`` — the *mirrorable* kernel: plain IEEE-double
  sign tests in a fixed evaluation order, so the identical arithmetic
  can be emitted as DuckDB SQL for the driver's correctness oracle
  (general-position inputs; agreement with the robust kernel is
  asserted in tests on the synthetic tables).
"""

from __future__ import annotations

import math
from fractions import Fraction

import numpy as np

DBL_EPS = 2.220446049250313e-16
MAX_DET_ERROR = 1.8274 * DBL_EPS  # S2Predicates.cs:439 (unit-length inputs)

# S2PointUtil.cs:15-31 — the fixed "point at infinity" for PIP parity.
ORIGIN = (-0.0099994664350250197, 0.0025924542609324121, 0.99994664350250195)


# ---------------------------------------------------------------------
# Scalar robust predicates (driver-side; tuples of float)
# ---------------------------------------------------------------------

def cross(a, b):
    return (
        a[1] * b[2] - a[2] * b[1],
        a[2] * b[0] - a[0] * b[2],
        a[0] * b[1] - a[1] * b[0],
    )


def dot(a, b):
    return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]


def triage_sign(a, b, c, a_cross_b=None) -> int:
    """S2Predicates.cs:420-452: sign of det(a,b,c) or 0 if uncertain."""
    if a_cross_b is None:
        a_cross_b = cross(a, b)
    det = dot(a_cross_b, c)
    if det > MAX_DET_ERROR:
        return 1
    if det < -MAX_DET_ERROR:
        return -1
    return 0


def _sign_int(x) -> int:
    if x > 0:
        return 1
    if x < 0:
        return -1
    return 0


def _symbolic_sign(a, b, c, b_cross_c) -> int:
    """Symbolic perturbation for exactly-collinear triples
    (S2Predicates.cs SymbolicallyPerturbedSign); requires a < b < c
    lexicographically; inputs exact (Fraction)."""
    for v in (b_cross_c[2], b_cross_c[1], b_cross_c[0],
              c[0] * a[1] - c[1] * a[0], c[0], -c[1],
              c[2] * a[0] - c[0] * a[2], c[2]):
        s = _sign_int(v)
        if s != 0:
            return s
    for v in (a[0] * b[1] - a[1] * b[0], -b[0], b[1], a[0]):
        s = _sign_int(v)
        if s != 0:
            return s
    return 1


def exact_sign(a, b, c, perturb: bool = True) -> int:
    """Exact-arithmetic sign with optional symbolic perturbation
    (S2Predicates.cs ExactSign): never returns 0 for distinct points."""
    if a == b or b == c or c == a:
        return 0
    # Sort into a < b < c (lexicographic), tracking permutation parity.
    perm_sign = 1
    pa, pb, pc = a, b, c
    if pa > pb:
        pa, pb = pb, pa
        perm_sign = -perm_sign
    if pb > pc:
        pb, pc = pc, pb
        perm_sign = -perm_sign
    if pa > pb:
        pa, pb = pb, pa
        perm_sign = -perm_sign
    fa = tuple(Fraction(v) for v in pa)
    fb = tuple(Fraction(v) for v in pb)
    fc = tuple(Fraction(v) for v in pc)
    b_cross_c = cross(fb, fc)
    det = dot(b_cross_c, fa)
    if det != 0:
        return perm_sign * _sign_int(det)
    if not perturb:
        return 0
    return perm_sign * _symbolic_sign(fa, fb, fc, b_cross_c)


def sign(a, b, c, a_cross_b=None) -> int:
    """Robust CCW orientation: triage then exact (S2Predicates.cs:58-64,
    402-414).  Never 0 for distinct points."""
    s = triage_sign(a, b, c, a_cross_b)
    if s != 0:
        return s
    return exact_sign(a, b, c)


def largest_abs_component(a) -> int:
    """Index of the largest |component|; ties prefer the LATER axis
    (Vector3.cs:71-90 — x > y, not >=), unlike np.argmax."""
    x, y, z = abs(a[0]), abs(a[1]), abs(a[2])
    if x > y:
        return 0 if x > z else 2
    return 1 if y > z else 2


def ortho(a):
    """Deterministic unit vector orthogonal to a (S2PointUtil.cs:54-67)."""
    k = largest_abs_component(a) - 1
    if k < 0:
        k = 2
    temp = [0.012, 0.0053, 0.00457]
    temp[k] = 1.0
    v = cross(a, tuple(temp))
    n = math.sqrt(dot(v, v))
    return (v[0] / n, v[1] / n, v[2] / n)


def ref_dir(a):
    return ortho(a)


def ordered_ccw(a, b, c, o) -> bool:
    """True if b is CCW-between a and c around o (S2Predicates.cs:80-93)."""
    total = 0
    if sign(b, o, a) >= 0:
        total += 1
    if sign(c, o, b) >= 0:
        total += 1
    if sign(a, o, c) > 0:
        total += 1
    return total >= 2


def angle_contains_vertex(a, b, c) -> bool:
    """S2EdgeCrossings.cs:105-117."""
    return not ordered_ccw(ref_dir(b), c, a, b)


def vertex_crossing(a, b, c, d) -> bool:
    """Shared-vertex crossing parity (S2EdgeCrossings.cs:120-141)."""
    if a == b or c == d:
        return False
    if a == c:
        return (b == d) or ordered_ccw(ref_dir(a), d, b, a)
    if b == d:
        return ordered_ccw(ref_dir(b), c, a, b)
    if a == d:
        return (b == c) or ordered_ccw(ref_dir(a), c, b, a)
    if b == c:
        return ordered_ccw(ref_dir(b), d, a, b)
    raise ValueError("VertexCrossing called with 4 distinct vertices")


def signed_vertex_crossing(a, b, c, d) -> int:
    """Signed shared-vertex crossing (S2EdgeCrossings.cs:182-203): +1
    when both edges are outgoing or both incoming at the common
    vertex, -1 otherwise, 0 when not crossing."""
    if a == b or c == d:
        return 0
    if a == c:
        return 1 if ((b == d) or ordered_ccw(ref_dir(a), d, b, a)) else 0
    if b == d:
        return 1 if ordered_ccw(ref_dir(b), c, a, b) else 0
    if a == d:
        return -1 if ((b == c) or ordered_ccw(ref_dir(a), c, b, a)) else 0
    if b == c:
        return -1 if ordered_ccw(ref_dir(b), d, a, b) else 0
    raise ValueError("SignedVertexCrossing called with 4 distinct vertices")


def signed_edge_or_vertex_crossing(a, b, c, d) -> int:
    """Signed crossing count of AB vs CD (S2EdgeCrosser.cs:315-323):
    +1 when CD crosses AB right-to-left, -1 left-to-right, 0 none —
    summing these along a chain gives winding-number deltas."""
    s = crossing_sign(a, b, c, d)
    if s < 0:
        return 0
    if s > 0:
        return sign(a, b, c)  # LastInteriorCrossingSign
    return signed_vertex_crossing(a, b, c, d)


def crossing_sign(a, b, c, d) -> int:
    """+1 interior crossing / 0 shared vertex / -1 none
    (S2EdgeCrosser.cs:262-296 + CrossingSignInternal2 :343-396, robust)."""
    a_cross_b = cross(a, b)
    acb = -triage_sign(a, b, c, a_cross_b)
    bda = triage_sign(a, b, d, a_cross_b)
    if acb == -bda and bda != 0:
        return -1
    # slow path
    if a == c or a == d or b == c or b == d:
        return 0
    if a == b or c == d:
        return -1
    if acb == 0:
        acb = -exact_sign(a, b, c)
    if bda == 0:
        bda = exact_sign(a, b, d)
    if bda != acb:
        return -1
    c_cross_d = cross(c, d)
    cbd = -sign(c, d, b, c_cross_d)
    if cbd != acb:
        return -1
    dac = sign(c, d, a, c_cross_d)
    return 1 if dac == acb else -1


def edge_or_vertex_crossing(a, b, c, d) -> bool:
    """S2EdgeCrossings.cs:159-170 semantics."""
    s = crossing_sign(a, b, c, d)
    if s < 0:
        return False
    if s > 0:
        return True
    return vertex_crossing(a, b, c, d)


# ---------------------------------------------------------------------
# Vectorized point-in-loop parity
# ---------------------------------------------------------------------

def crossing_parity_fast(
    verts: np.ndarray, px: np.ndarray, py: np.ndarray, pz: np.ndarray
) -> np.ndarray:
    """Parity (0/1) of interior crossings of edge (ORIGIN -> P) with the
    closed loop ``verts`` ((n,3) float64), plain IEEE doubles.

    Sign tests are scale-invariant, so P may be unnormalized direction
    vectors.  The arithmetic mirrors ``duckdb_oracle.pip_loop_sql``
    term-for-term for bit-identical Spark/DuckDB answers on
    general-position inputs.
    """
    n = len(verts)
    edges = [(verts[k], verts[(k + 1) % n]) for k in range(n)]
    return crossing_parity_fast_edges(edges, px, py, pz)


def crossing_parity_fast_edges(
    edges, px: np.ndarray, py: np.ndarray, pz: np.ndarray, origin=ORIGIN
) -> np.ndarray:
    """Like crossing_parity_fast but over an explicit edge list
    [(c, d), ...] — supports multi-loop polygons (all rings' edges
    concatenated; the parity of the total crossing count against a
    loop *set* is the polygon winding parity, S2Polygon.cs:1757-1780).

    ``origin`` is the parity anchor: the fixed reference ORIGIN for
    whole-loop containment, or an index-cell center for the shape-index
    refine (S2ContainsPointQuery semantics: the geodesic center->P
    stays inside the convex cell, so only the cell's clipped edges can
    cross it)."""
    ax, ay, az = origin
    # A x B for all points (B = P)
    nx = ay * pz - az * py
    ny = az * px - ax * pz
    nz = ax * py - ay * px
    parity = np.zeros(len(px), dtype=np.int64)
    for c, d in edges:
        det_c = (nx * c[0] + ny * c[1]) + nz * c[2]
        det_d = (nx * d[0] + ny * d[1]) + nz * d[2]
        s_c = np.sign(det_c)
        s_d = np.sign(det_d)
        maybe = (s_c != s_d) & (s_c != 0) & (s_d != 0)
        if not maybe.any():
            continue
        # C x D is per-edge constant
        cdx = c[1] * d[2] - c[2] * d[1]
        cdy = c[2] * d[0] - c[0] * d[2]
        cdz = c[0] * d[1] - c[1] * d[0]
        det_b = (cdx * px + cdy * py) + cdz * pz
        det_a = (cdx * ax + cdy * ay) + cdz * az
        acb = -s_c
        cbd = -np.sign(det_b)
        dac = np.sign(det_a)  # scalar per edge
        crossed = maybe & (cbd == acb) & (dac == acb)
        parity ^= crossed.astype(np.int64)
    return parity


def crossing_fast_batch(
    ax, ay, az, bx, by, bz, cx, cy, cz, dx, dy, dz
) -> np.ndarray:
    """Vectorized interior-crossing test for edge pairs (A,B)x(C,D)
    (arrays of coordinates, one pair per row), plain IEEE doubles in a
    fixed order mirrored by ``duckdb_oracle.crossing_pairs_sql``.

    Returns bool: True iff the edges cross at an interior point
    (general-position fast path of S2EdgeCrosser.CrossingSign)."""
    nx = ay * bz - az * by
    ny = az * bx - ax * bz
    nz = ax * by - ay * bx
    det_c = (nx * cx + ny * cy) + nz * cz
    det_d = (nx * dx + ny * dy) + nz * dz
    s_c = np.sign(det_c)
    s_d = np.sign(det_d)
    cdx = cy * dz - cz * dy
    cdy = cz * dx - cx * dz
    cdz = cx * dy - cy * dx
    det_b = (cdx * bx + cdy * by) + cdz * bz
    det_a = (cdx * ax + cdy * ay) + cdz * az
    return (
        (s_c != s_d)
        & (s_c != 0)
        & (s_d != 0)
        & (np.sign(det_b) == s_c)
        & (np.sign(det_a) == -s_c)
    )


class ParityPrep:
    """Per-loop constants for crossing_parity_robust: edge endpoint
    arrays, per-edge cross products, and the ORIGIN-side determinant
    signs.  Build once per loop (Loop caches it) — rebuilding per
    contains_point call is O(edges) and dominates coverer runs on
    many-edge loops."""

    __slots__ = ("c", "d", "cd", "s_a")

    def __init__(self, verts: np.ndarray):
        self.c = np.asarray(verts, dtype=np.float64)
        self.d = np.roll(self.c, -1, axis=0)
        self.cd = np.cross(self.c, self.d)
        det_a = self.cd @ np.asarray(ORIGIN)
        self.s_a = np.where(
            np.abs(det_a) > MAX_DET_ERROR, np.sign(det_a), 0.0
        )


def crossing_parity_robust(
    verts: np.ndarray, points: np.ndarray, prep: ParityPrep | None = None
) -> np.ndarray:
    """Parity of EdgeOrVertexCrossing of (ORIGIN -> P) vs the loop chain.

    Vectorized triage over the edge axis (the four determinant signs of
    S2EdgeCrosser, each guarded by the reference's kMaxDetError bound);
    only edges where some determinant is within the error bound — or
    that share a vertex with P — fall back to the scalar robust
    predicate (exact + symbolic, edge_or_vertex_crossing).  Points must
    be unit length (the reference's error bound assumes unit inputs)."""
    a = ORIGIN
    m = len(points)
    out = np.zeros(m, dtype=np.int64)
    n = len(verts)
    if prep is None:
        prep = ParityPrep(verts)
    c, d, cd, s_a = prep.c, prep.d, prep.cd, prep.s_a
    pts = np.asarray(points, dtype=np.float64)

    def vt(k):  # scalar-fallback vertices, built on demand (rare)
        v = c[k % n]
        return (float(v[0]), float(v[1]), float(v[2]))
    for i in range(m):
        b = (float(pts[i, 0]), float(pts[i, 1]), float(pts[i, 2]))
        nv = np.asarray(cross(a, b))
        det_c = c @ nv
        det_d = d @ nv
        det_b = cd @ pts[i]
        s_c = np.where(np.abs(det_c) > MAX_DET_ERROR, np.sign(det_c), 0.0)
        s_d = np.where(np.abs(det_d) > MAX_DET_ERROR, np.sign(det_d), 0.0)
        s_b = np.where(np.abs(det_b) > MAX_DET_ERROR, np.sign(det_b), 0.0)
        shared = ((c == pts[i]).all(axis=1)) | ((d == pts[i]).all(axis=1))
        uncertain = shared | (
            ((s_c == 0) | (s_d == 0) | ((s_b == 0) | (s_a == 0)))
            # only edges not already certainly-non-crossing need the
            # extra signs: same certain side of A x B -> no crossing
            & ~((s_c == s_d) & (s_c != 0))
        )
        crossed = (
            (s_c != 0)
            & (s_d == -s_c)
            & (s_b == s_c)
            & (s_a == -s_c)
            & ~uncertain
        )
        par = int(np.bitwise_xor.reduce(crossed.astype(np.int64))) if n else 0
        for k in np.flatnonzero(uncertain):
            if edge_or_vertex_crossing(a, b, vt(k), vt(k + 1)):
                par ^= 1
        out[i] = par
    return out


def loop_origin_inside(
    verts: np.ndarray, prep: "ParityPrep | None" = None
) -> bool:
    """origin_inside bit per S2Loop.InitOriginAndBound: guess outside,
    check containment of vertex 1 against AngleContainsVertex."""
    v0 = tuple(float(x) for x in verts[0])
    v1 = tuple(float(x) for x in verts[1])
    v2 = tuple(float(x) for x in verts[2])
    v1_inside = v0 != v1 and v2 != v1 and angle_contains_vertex(v0, v1, v2)
    # parity of crossings Origin->v1 (with origin_inside == False)
    par = int(crossing_parity_robust(verts, verts[1:2], prep)[0])
    contains_v1 = bool(par)  # inside = False ^ parity
    return v1_inside != contains_v1


def loop_contains_points(
    verts: np.ndarray,
    points: np.ndarray,
    origin_inside: bool | None = None,
    prep: "ParityPrep | None" = None,
) -> np.ndarray:
    """Robust point-in-loop for unit-length points ((m,3))."""
    if origin_inside is None:
        origin_inside = loop_origin_inside(verts)
    par = crossing_parity_robust(verts, points, prep)
    return (par ^ int(origin_inside)).astype(bool)


# ---------------------------------------------------------------------
# Exact distance comparisons (S2Predicates.cs:103-175, 736-900)
# ---------------------------------------------------------------------

_SQRT1_2 = 0.7071067811865476


def _get_cos_distance(x, y):
    c = dot(x, y)
    return c, 9.5 * DBL_EPS * abs(c) + 1.5 * DBL_EPS


def _get_sin2_distance(x, y):
    n = cross(
        (x[0] - y[0], x[1] - y[1], x[2] - y[2]),
        (x[0] + y[0], x[1] + y[1], x[2] + y[2]),
    )
    d2 = 0.25 * dot(n, n)
    err = (
        (21 + 4 * math.sqrt(3.0)) * DBL_EPS * d2
        + 32 * math.sqrt(3.0) * DBL_EPS * DBL_EPS * math.sqrt(d2)
        + 768 * DBL_EPS ** 4
    )
    return d2, err


def triage_compare_cos_distances(x, a, b) -> int:
    cos_ax, ea = _get_cos_distance(a, x)
    cos_bx, eb = _get_cos_distance(b, x)
    diff = cos_ax - cos_bx
    error = ea + eb
    return -1 if diff > error else (1 if diff < -error else 0)


def triage_compare_sin2_distances(x, a, b) -> int:
    s_ax, ea = _get_sin2_distance(a, x)
    s_bx, eb = _get_sin2_distance(b, x)
    diff = s_ax - s_bx
    error = ea + eb
    return 1 if diff > error else (-1 if diff < -error else 0)


def _exact_compare_distances(x, a, b) -> int:
    fx = tuple(Fraction(v) for v in x)
    fa = tuple(Fraction(v) for v in a)
    fb = tuple(Fraction(v) for v in b)
    cos_ax = dot(fx, fa)
    cos_bx = dot(fx, fb)
    a_sign, b_sign = _sign_int(cos_ax), _sign_int(cos_bx)
    if a_sign != b_sign:
        return -1 if a_sign > b_sign else 1
    cmp = cos_bx * cos_bx * dot(fa, fa) - cos_ax * cos_ax * dot(fb, fb)
    return a_sign * _sign_int(cmp)


def compare_distances(x, a, b) -> int:
    """-1/0/+1 as distance AX is less/equal/greater than BX, exact as
    though all points were projected onto the unit sphere, with
    symbolic perturbation so 0 occurs only for a == b
    (S2Predicates.CompareDistances)."""
    s = triage_compare_cos_distances(x, a, b)
    if s != 0:
        return s
    if a == b:
        return 0
    cos_ax = dot(a, x)
    if cos_ax > _SQRT1_2:
        s = triage_compare_sin2_distances(x, a, b)
    elif cos_ax < -_SQRT1_2:
        s = -triage_compare_sin2_distances(x, a, b)
    if s != 0:
        return s
    s = _exact_compare_distances(x, a, b)
    if s != 0:
        return s
    # symbolic: pedestal model — lexicographically smaller point sits
    # on a higher pedestal, hence is farther
    return 1 if a < b else (-1 if a > b else 0)


def compare_distance(x, y, r2: float) -> int:
    """-1/0/+1 as distance XY is less/equal/greater than the chord^2
    limit r2 (S2Predicates.CompareDistance)."""
    cos_xy, e_xy = _get_cos_distance(x, y)
    cos_r = 1 - 0.5 * r2
    diff = cos_xy - cos_r
    error = e_xy + 2 * DBL_EPS * cos_r
    if diff > error:
        return -1
    if diff < -error:
        return 1
    if r2 == 0.0 and x == y:
        return 0
    # chord^2 of 45 degrees = 2 - sqrt(2)
    if r2 < 2 - math.sqrt(2.0):
        s_xy, es = _get_sin2_distance(x, y)
        sin2_r = r2 * (1 - 0.25 * r2)
        diff = s_xy - sin2_r
        error = es + 3 * DBL_EPS * sin2_r
        if diff > error:
            return 1
        if diff < -error:
            return -1
    fx = tuple(Fraction(v) for v in x)
    fy = tuple(Fraction(v) for v in y)
    fr2 = Fraction(r2)
    cos_xy_e = dot(fx, fy)
    cos_r_e = 1 - Fraction(1, 2) * fr2
    xy_sign, r_sign = _sign_int(cos_xy_e), _sign_int(cos_r_e)
    if xy_sign != r_sign:
        return -1 if xy_sign > r_sign else 1
    cmp = cos_r_e * cos_r_e * dot(fx, fx) * dot(fy, fy) - cos_xy_e * cos_xy_e
    return xy_sign * _sign_int(cmp)
