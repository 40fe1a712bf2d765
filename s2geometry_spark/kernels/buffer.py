"""Buffered geometry: expand a loop's boundary outward by a radius and
EMIT the buffered ring (S2BufferOperation.cs semantics at a stated
tolerance — the covering-based within-distance join in
operators/spatial_join.py answers "is x within r" without geometry;
this kernel produces the geometry itself).

Construction (offset-curve sampling + trim):
1. each edge contributes its offset small-circle arc at distance r on
   the exterior side: q(t) = cos(r)*p(t) - sin(r)*u, u = unit edge
   normal (interior is left of CCW edges, so -u points outward);
2. each vertex contributes the round join: the circle of radius r
   around the vertex, swept between the adjacent edge normals;
3. candidate points whose true distance to the boundary is < r - tol
   are trimmed (they dip into the r-neighborhood of ANOTHER part of
   the boundary — the concave-join case the reference resolves with
   winding numbers);
4. survivors are ordered by their projection's position along the
   boundary (edge index + in-edge parameter), producing one CCW ring.

CONVEX loops take the parameter-ordered fast path above.  CONCAVE
loops route through the winding-arrangement walk
(S2BufferOperation.cs:28-57 / Chen & McMains, "Polygon Offsetting by
Computing Winding Numbers"): the offset curve is kept CLOSED by
splicing each concave vertex into the curve itself
(S2BufferOperation.BufferEdgeAndVertex, :582-613) — radial edges
connect the two adjacent edge offsets through the vertex — and the
buffered region is extracted as the winding-positive region of the
(self-intersecting) curve via kernels.winding.  ``check=True``
(default) Monte-Carlo-validates either path against the
within-distance predicate.
"""

from __future__ import annotations

import math

import numpy as np

from . import edges as E
from .polyline import chain_edges, edges_min_distance2, region_distance2


def _unit(v):
    return v / np.linalg.norm(v)


def _is_convex(verts: np.ndarray) -> bool:
    n = len(verts)
    vt = [tuple(map(float, v)) for v in verts]
    return all(
        E.sign(vt[k], vt[(k + 1) % n], vt[(k + 2) % n]) >= 0
        for k in range(n)
    )


def offset_curve(
    verts: np.ndarray,
    radius: float,
    tolerance: float = 1e-3,
    flat_turns: frozenset[int] | set[int] = frozenset(),
) -> np.ndarray:
    """Closed offset curve of a CCW loop at distance `radius`, with
    concave vertices spliced into the curve (radial edges through the
    vertex) so winding numbers stay correct —
    S2BufferOperation.BufferEdgeAndVertex / AddEdgeArc / AddVertexArc
    (S2BufferOperation.cs:517-613).  May self-intersect; feed to the
    winding walk.

    `flat_turns`: edge indexes whose END vertex takes the splice branch
    even when the turn is convex/degenerate — used for FLAT polyline
    end caps (on the sphere the geodesic between the two opposite
    offset endpoints passes exactly through the vertex, so the splice
    IS the flat cap; S2BufferOperation.Options.EndCapStyle)."""
    verts = np.ascontiguousarray(verts, dtype=np.float64)
    n = len(verts)
    cr, sr = math.cos(radius), math.sin(radius)
    step = 2 * math.sqrt(2 * tolerance / max(radius, tolerance))
    pts: list[np.ndarray] = []
    for k in range(n):
        a, b = verts[k], verts[(k + 1) % n]
        c = verts[(k + 2) % n]
        axis_ab = _unit(np.cross(b, a))  # outward normal of a CCW edge
        ang = math.atan2(
            np.linalg.norm(np.cross(a, b)), float(np.dot(a, b))
        )
        m = max(1, int(math.ceil(ang / step)))
        for t in np.arange(m) / m:  # semi-open [a, b)
            if ang < 1e-12:
                p = a
            else:
                p = (
                    math.sin((1 - t) * ang) * a + math.sin(t * ang) * b
                ) / math.sin(ang)
            pts.append(_unit(cr * p + sr * axis_ab))
        axis_bc = _unit(np.cross(c, b))
        turn = E.sign(
            tuple(map(float, a)), tuple(map(float, b)), tuple(map(float, c))
        )
        if turn >= 0 and k not in flat_turns:
            # convex turn: round join sweeping CCW from axis_ab to
            # axis_bc around b, semi-open (next edge arc closes it)
            w = math.acos(
                float(np.clip(np.dot(axis_ab, axis_bc), -1, 1))
            )
            if w > 1e-12:
                rot = _unit(np.cross(b, axis_ab))
                m2 = max(1, int(math.ceil(w / step)))
                for s in np.arange(m2) / m2:
                    d = math.cos(s * w) * axis_ab + math.sin(s * w) * rot
                    pts.append(_unit(cr * b + sr * d))
        else:
            # concave turn: close this edge's arc at b, then splice the
            # input vertex itself into the offset curve; the next edge
            # arc reopens at b's offset w.r.t. its own axis
            pts.append(_unit(cr * b + sr * axis_ab))
            pts.append(b.copy())
    out = np.stack(pts)
    keep = (
        np.linalg.norm(np.diff(out, axis=0, append=out[:1]), axis=1)
        > 1e-14
    )
    return out[keep]


def buffer_loop_rings(
    verts: np.ndarray,
    radius: float,
    tolerance: float = 1e-3,
    check: bool = True,
) -> list[np.ndarray]:
    """CCW loop -> buffered boundary rings (region on the left: CCW
    shells, CW holes).  Convex loops produce one parameter-ordered
    ring; concave loops run the spliced offset curve through the
    winding-positive arrangement walk."""
    verts = np.ascontiguousarray(verts, dtype=np.float64)
    if _is_convex(verts):
        return [buffer_loop(verts, radius, tolerance, check)]
    from .winding import RULE_POSITIVE, winding_operation

    curve = offset_curve(verts, radius, tolerance)
    # winding on the sphere is relative: anchor at the antipode of the
    # loop's center, which the buffered region cannot reach for the
    # supported radii (S2BufferOperation tracks the same information
    # with its sweep-edge ref_winding bookkeeping)
    center = verts.mean(axis=0)
    ref = tuple(-center / np.linalg.norm(center))
    _check_anchor(
        verts, center / np.linalg.norm(center), radius, "buffer_loop_rings"
    )
    rings = winding_operation(
        [curve], RULE_POSITIVE, ref_point=ref, ref_winding=0
    )
    if check:
        _validate_rings(verts, radius, tolerance, rings)
    return rings


def buffer_loop(
    verts: np.ndarray,
    radius: float,
    tolerance: float = 1e-3,
    check: bool = True,
) -> np.ndarray:
    """CCW loop vertices -> buffered exterior ring ((m, 3) unit
    vectors), expanded by `radius` radians with round joins.  Concave
    inputs route through ``buffer_loop_rings``; a multi-ring result
    (a concavity pinching off a hole) raises — call
    ``buffer_loop_rings`` directly for those."""
    # contiguity matters for bitwise determinism: np.dot/np.cross on a
    # strided pandas column view can take a different BLAS path with
    # different rounding than the contiguous case
    verts = np.ascontiguousarray(verts, dtype=np.float64)
    # the convex trim construction is just as invalid as the winding
    # walk once radius + extent reaches the antipode — guard BOTH paths
    _check_anchor(verts, _unit(verts.mean(axis=0)), radius, "buffer_loop")
    if not _is_convex(verts):
        rings = buffer_loop_rings(verts, radius, tolerance, check)
        if len(rings) != 1:
            raise ValueError(
                "buffer_loop: concave input buffered to "
                f"{len(rings)} rings (a hole pinched off); use "
                "buffer_loop_rings for the full ring set"
            )
        return rings[0]
    n = len(verts)
    cr, sr = math.cos(radius), math.sin(radius)
    # sample spacing along offset arcs so chord error <= tolerance
    step = 2 * math.sqrt(2 * tolerance / max(radius, tolerance))
    cand: list[tuple[int, float, np.ndarray]] = []  # (edge_idx, t, point)
    for k in range(n):
        a, b = verts[k], verts[(k + 1) % n]
        u = _unit(np.cross(a, b))  # interior side for CCW loops
        ang = math.atan2(
            np.linalg.norm(np.cross(a, b)), float(np.dot(a, b))
        )
        m = max(2, int(math.ceil(ang / step)) + 1)
        for t in np.linspace(0.0, 1.0, m):
            # slerp along the edge; sort key maps edge samples into
            # [k, k + 0.9] so the vertex join slots strictly after
            if ang < 1e-12:
                p = a
            else:
                p = (
                    math.sin((1 - t) * ang) * a + math.sin(t * ang) * b
                ) / math.sin(ang)
            q = cr * p - sr * u
            cand.append((k, 0.9 * float(t), _unit(q)))
        # round join at vertex b: sweep the normal from this edge's to
        # the next edge's outward direction
        c = verts[(k + 2) % n]
        u2 = _unit(np.cross(b, c))
        cosw = float(np.clip(np.dot(u, u2), -1, 1))
        w = math.acos(cosw)
        if w > 1e-9:
            m2 = max(2, int(math.ceil(w / step)) + 1)
            for s in np.linspace(0.0, 1.0, m2)[1:-1]:
                un = _unit(
                    (math.sin((1 - s) * w) * u + math.sin(s * w) * u2)
                    / math.sin(w)
                )
                q = cr * b - sr * un
                # joins sort into (k + 0.9, k + 1): after this edge's
                # samples, before the next edge's first sample
                cand.append((k, 0.9 + 0.0999 * float(s), _unit(q)))
    pts = np.stack([p for _, _, p in cand])
    # trim: drop candidates closer than (r - tol) to any boundary edge
    min_d2 = _loop_min_dist2(np.asarray(verts), pts)
    s_lim = math.sin(0.5 * max(radius - tolerance, 0.0))
    keep = min_d2 >= 4 * s_lim * s_lim - 1e-15
    order = sorted(
        (cand[i][0] + cand[i][1], i) for i in np.flatnonzero(keep)
    )
    ring = pts[[i for _, i in order]]
    # dedup consecutive near-identical samples
    d = np.linalg.norm(np.diff(ring, axis=0, append=ring[:1]), axis=1)
    ring = ring[d > 1e-12]
    if check:
        _validate_ring(verts, radius, tolerance, ring)
    return ring


def _validate_ring(verts, radius, tolerance, ring) -> None:
    """Monte-Carlo agreement check between the emitted single ring and
    the within-distance predicate (see _validate_rings)."""
    _validate_rings(
        verts, radius, tolerance, [np.asarray(ring)],
        hint=(
            "; the loop's concave features are below the buffer "
            "radius — use the within-distance join, or reduce the "
            "radius"
        ),
    )


def _validate_rings(verts, radius, tolerance, rings,
                    hint: str = "") -> None:
    """Monte-Carlo agreement check: the winding-positive region from
    the emitted rings (parity XOR over disjoint simple rings bounding
    a 0/1-winding region — _rings_contain) must match the
    within-distance predicate outside a band of 4*tol around the true
    buffered boundary."""
    from .loop import Loop

    rng = np.random.default_rng(0)
    center = _unit(np.asarray(verts).mean(axis=0))
    spread = 4 * (radius + float(
        np.linalg.norm(np.asarray(verts) - center, axis=1).max()
    ))
    P = center[None, :] + spread * rng.standard_normal((1500, 3))
    P = P / np.linalg.norm(P, axis=1)[:, None]
    lp = Loop(np.asarray(verts))
    want = buffered_contains(lp.verts, radius, P, lp.origin_inside)
    got = _rings_contain(rings, P)
    bad = want != got
    if not bad.any():
        return
    # tolerance band: |dist(x, boundary) - r| <= 4*tol is acceptable
    min_d2 = _loop_min_dist2(np.asarray(verts), P)
    d = 2 * np.arcsin(np.sqrt(np.clip(min_d2, 0, 4)) / 2)
    out_of_band = bad & (np.abs(d - radius) > 4 * tolerance)
    if out_of_band.any():
        raise ValueError(
            "buffer_loop: ring construction failed validation "
            f"({int(out_of_band.sum())} probes disagree beyond 4*tol)"
            f"{hint}"
        )


def buffered_contains(verts: np.ndarray, radius: float, points: np.ndarray,
                      origin_inside: bool) -> np.ndarray:
    """Reference predicate for tests: inside loop OR within radius of
    its boundary (unit points)."""
    d2 = region_distance2(
        points[:, 0], points[:, 1], points[:, 2],
        chain_edges(verts, closed=True), origin_inside,
    )
    return d2 <= _chord2(radius)


# ---------------------------------------------------------------------
# Round-4 surface: point / polyline inputs, negative radius
# (contraction), polygons with holes, and multi-layer union —
# completing S2BufferOperation.cs:1-25 ("The radius can also be
# negative ... removes all points and polylines"; "The input consists
# of a sequence of layers ... the output is the union of the buffered
# input layers").
# ---------------------------------------------------------------------

def circle_ring(
    center,
    radius: float,
    tolerance: float = 1e-3,
    num_segments: int | None = None,
) -> np.ndarray:
    """Regular CCW ring approximating the circle of `radius` around a
    unit point (S2BufferOperation.AddPoint: "points are buffered into
    regular polygons"; num_segments mirrors Options.CircleSegments)."""
    if radius <= 0:
        raise ValueError("circle_ring needs radius > 0")
    p = _unit(np.asarray(center, dtype=np.float64))
    ref = (
        np.array([0.0, 0.0, 1.0])
        if abs(p[2]) < 0.9
        else np.array([1.0, 0.0, 0.0])
    )
    e1 = _unit(np.cross(ref, p))
    e2 = np.cross(p, e1)  # (e1, e2, p) right-handed -> CCW around p
    if num_segments is None:
        step = 2 * math.sqrt(2 * tolerance / max(radius, tolerance))
        num_segments = max(3, int(math.ceil(2 * math.pi / step)))
    th = 2 * math.pi * np.arange(num_segments) / num_segments
    cr, sr = math.cos(radius), math.sin(radius)
    ring = (
        cr * p[None, :]
        + sr * (np.cos(th)[:, None] * e1[None, :]
                + np.sin(th)[:, None] * e2[None, :])
    )
    return ring / np.linalg.norm(ring, axis=1)[:, None]


def buffer_point_rings(
    center, radius: float, tolerance: float = 1e-3, check: bool = True
) -> list[np.ndarray]:
    """Buffered point: a disc of `radius` (negative radius removes
    points — S2BufferOperation.cs:8-9)."""
    if radius <= 0:
        return []
    ring = circle_ring(center, radius, tolerance)
    if check:
        p = _unit(np.asarray(center, dtype=np.float64))
        rng = np.random.default_rng(0)
        P = p[None, :] + 4 * radius * rng.standard_normal((800, 3))
        P = P / np.linalg.norm(P, axis=1)[:, None]
        from .loop import Loop

        d2 = ((P - p[None, :]) ** 2).sum(axis=1)
        s = math.sin(0.5 * radius)
        want = d2 <= 4 * s * s
        got = Loop(ring).contains_points(P)
        band = np.abs(2 * np.arcsin(np.sqrt(np.clip(d2, 0, 4)) / 2)
                      - radius) <= 4 * tolerance
        if (want != got)[~band].any():
            raise ValueError("buffer_point_rings failed validation")
    return [ring]


def _doubled_path(verts: np.ndarray) -> np.ndarray:
    """Polyline -> the degenerate closed path [v0..vk, v(k-1)..v1]
    whose left side is empty; its offset curve bounds the two-sided
    buffer (S2BufferOperation.AddPolyline buffers each side)."""
    verts = np.ascontiguousarray(verts, dtype=np.float64)
    if len(verts) < 2:
        raise ValueError("polyline needs >= 2 vertices")
    return np.concatenate([verts, verts[-2:0:-1]])


def _polyline_min_dist2(verts: np.ndarray, P: np.ndarray) -> np.ndarray:
    return edges_min_distance2(P[:, 0], P[:, 1], P[:, 2], chain_edges(verts))


def _flat_rect_contains(verts: np.ndarray, radius: float,
                        P: np.ndarray) -> np.ndarray:
    """FLAT-cap predicate: within `radius` of some edge's great-circle
    arc with the perpendicular foot INSIDE the arc (union of geodesic
    rectangles, no end discs)."""
    got = np.zeros(len(P), dtype=bool)
    sin_r = math.sin(radius)
    for k in range(len(verts) - 1):
        a, b = verts[k], verts[k + 1]
        n = _unit(np.cross(a, b))
        perp = P @ n
        perp_ok = np.abs(perp) <= sin_r
        proj = P - perp[:, None] * n[None, :]
        nn = np.linalg.norm(proj, axis=1)
        ok = perp_ok & (nn > 1e-12)
        proj[ok] /= nn[ok, None]
        in_arc = (proj @ np.cross(n, a) >= 0) & (proj @ np.cross(b, n) >= 0)
        got |= ok & in_arc
    return got


def _one_sided_curve(
    verts: np.ndarray, radius: float, tolerance: float, end_cap: str
) -> np.ndarray:
    """RIGHT-side offset path of an open polyline, closed by the
    reversed polyline itself (S2BufferOperation.AddPolyline one-sided
    branch + AddStartCap/AddEndCap quarter-circle caps,
    S2BufferOperation.cs:288-316,616-674)."""
    n = len(verts)
    cr, sr = math.cos(radius), math.sin(radius)
    step = 2 * math.sqrt(2 * tolerance / max(radius, tolerance))
    pts: list[np.ndarray] = []

    def axis_of(a, b):
        return _unit(np.cross(b, a))  # right side of travel a->b

    def vertex_arc(v, start, end, close):
        # semi-open CCW sweep of the offset around v from `start` to
        # `end` directions (reference AddVertexArc)
        w = math.acos(float(np.clip(np.dot(start, end), -1, 1)))
        rot = _unit(np.cross(v, start))
        m = max(1, int(math.ceil(w / step)))
        for s in np.arange(m) / m:
            d = math.cos(s * w) * start + math.sin(s * w) * rot
            pts.append(_unit(cr * v + sr * d))
        if close:
            pts.append(_unit(cr * v + sr * end))

    def edge_arc(a, b):
        ax = axis_of(a, b)
        ang = math.atan2(
            np.linalg.norm(np.cross(a, b)), float(np.dot(a, b))
        )
        m = max(1, int(math.ceil(ang / step)))
        for t in np.arange(m) / m:
            if ang < 1e-12:
                p = a
            else:
                p = (
                    math.sin((1 - t) * ang) * a + math.sin(t * ang) * b
                ) / math.sin(ang)
            pts.append(_unit(cr * p + sr * ax))

    def fwd_tangent(a, b):
        return _unit(b - float(np.dot(a, b)) * a)

    a0, a1 = verts[0], verts[1]
    ax01 = axis_of(a0, a1)
    if end_cap == "round":
        # quarter circle from the backward tangent to the right normal
        vertex_arc(a0, -fwd_tangent(a0, a1), ax01, close=False)
    for i in range(n - 2):
        a, b, c = verts[i], verts[i + 1], verts[i + 2]
        edge_arc(a, b)
        ax_ab, ax_bc = axis_of(a, b), axis_of(b, c)
        turn = E.sign(
            tuple(map(float, a)), tuple(map(float, b)), tuple(map(float, c))
        )
        if turn >= 0:
            vertex_arc(b, ax_ab, ax_bc, close=False)
        else:
            # concave: close this arc at b and splice b itself
            pts.append(_unit(cr * b + sr * ax_ab))
            pts.append(b.copy())
    edge_arc(verts[n - 2], verts[n - 1])
    b = verts[n - 1]
    ax_last = axis_of(verts[n - 2], b)
    if end_cap == "flat":
        pts.append(_unit(cr * b + sr * ax_last))  # close the edge arc
    else:
        # quarter circle from the right normal to the forward tangent
        vertex_arc(b, ax_last, _unit(np.cross(b, ax_last)), close=True)
    # the opposite boundary is the polyline itself, reversed
    for v in verts[::-1]:
        pts.append(v.copy())
    out = np.stack(pts)
    keep = (
        np.linalg.norm(np.diff(out, axis=0, append=out[:1]), axis=1)
        > 1e-14
    )
    return out[keep]


def buffer_polyline_rings(
    verts: np.ndarray,
    radius: float,
    tolerance: float = 1e-3,
    end_cap: str = "round",
    side: str = "both",
    check: bool = True,
) -> list[np.ndarray]:
    """Polyline buffer through the winding-positive walk.
    end_cap: 'round' (default, semicircular caps) or 'flat' (the
    buffer ends at the perpendicular through each endpoint) —
    S2BufferOperation.Options.EndCapStyle.  side: 'both' (default,
    stadium region from the doubled degenerate path), 'left' or
    'right' (one-sided: the offset path on that side closed by the
    polyline itself; LEFT buffers the reversed line's right —
    S2BufferOperation.Options.PolylineSide).  Negative radius removes
    polylines (returns [])."""
    verts = np.ascontiguousarray(verts, dtype=np.float64)
    if radius <= 0:
        return []
    if end_cap not in ("round", "flat"):
        raise ValueError(f"unknown end_cap {end_cap!r}")
    if side not in ("both", "left", "right"):
        raise ValueError(f"unknown side {side!r}")
    if side == "both":
        path = _doubled_path(verts)
        k = len(verts) - 1
        flat = (
            frozenset((k - 1, 2 * k - 1))
            if end_cap == "flat"
            else frozenset()
        )
        curve = offset_curve(path, radius, tolerance, flat_turns=flat)
    else:
        oriented = verts[::-1] if side == "left" else verts
        curve = _one_sided_curve(
            np.ascontiguousarray(oriented), radius, tolerance, end_cap
        )
    from .winding import RULE_POSITIVE, winding_operation

    center = _unit(verts.mean(axis=0))
    _check_anchor(verts, center, radius, "buffer_polyline_rings")
    rings = winding_operation(
        [curve], RULE_POSITIVE, ref_point=tuple(-center), ref_winding=0
    )
    if check:
        rng = np.random.default_rng(0)
        spread = 4 * (radius + float(
            np.linalg.norm(verts - center, axis=1).max()
        ))
        P = center[None, :] + spread * rng.standard_normal((1500, 3))
        P = P / np.linalg.norm(P, axis=1)[:, None]
        min_d2 = _polyline_min_dist2(verts, P)
        s = math.sin(0.5 * radius)
        if side != "both":
            # one-sided: the region must be a SUBSET of the two-sided
            # within-distance set (the golden tests additionally assert
            # left ∪ right == both and left ∩ right == ∅, which pins
            # the side split exactly)
            got = _rings_contain(rings, P)
            d = 2 * np.arcsin(np.sqrt(np.clip(min_d2, 0, 4)) / 2)
            band = np.abs(d - radius) <= 4 * tolerance
            bad = got & (min_d2 > 4 * s * s) & ~band
            if bad.any():
                raise ValueError(
                    "buffer_polyline_rings (one-sided) failed "
                    f"validation ({int(bad.sum())} probes outside the "
                    "within-distance set)"
                )
            return rings
        if end_cap == "round":
            want = min_d2 <= 4 * s * s
        else:
            # flat caps affect only the two END vertices; interior
            # vertices always get round joins, so their discs fill the
            # wedge gaps between adjacent rectangles on convex turns
            want = _flat_rect_contains(verts, radius, P)
            for v in verts[1:-1]:
                want |= ((P - v[None, :]) ** 2).sum(axis=1) <= 4 * s * s
        got = _rings_contain(rings, P)
        d = 2 * np.arcsin(np.sqrt(np.clip(min_d2, 0, 4)) / 2)
        band = np.abs(d - radius) <= 4 * tolerance
        if end_cap == "flat":
            # also exempt the cap neighborhoods: the rect predicate
            # flips across the perpendicular great circle at each
            # endpoint (and along the endpoint's radius-r circle)
            # within sampling tolerance
            for endp in (verts[0], verts[-1]):
                band |= np.abs(
                    2 * np.arcsin(
                        np.linalg.norm(P - endp[None, :], axis=1) / 2
                    ) - radius
                ) <= 4 * tolerance
                t_cap = _cap_tangent(verts, endp)
                near_plane = np.abs(P @ t_cap) <= 4 * tolerance
                band |= near_plane & (min_d2 <= 4 * s * s + 4 * tolerance)
        bad = (want != got) & ~band
        if bad.any():
            raise ValueError(
                "buffer_polyline_rings failed validation "
                f"({int(bad.sum())} probes disagree beyond 4*tol)"
            )
    return rings


def _cap_tangent(verts: np.ndarray, endp: np.ndarray) -> np.ndarray:
    """Forward tangent at an endpoint (unit, ⊥ endp)."""
    if np.allclose(endp, verts[0]):
        nxt = verts[1]
    else:
        nxt = verts[-2]
    t = nxt - float(np.dot(nxt, endp)) * endp
    return _unit(t)


def _check_anchor(verts: np.ndarray, center: np.ndarray,
                  radius: float, who: str) -> None:
    """The winding walks anchor ref_winding at the ANTIPODE of the
    geometry's center; that is only sound when the buffered region
    cannot reach it.  Fail loudly instead of returning a wrong region
    when radius + geometry extent crosses the hemisphere bound
    (S2BufferOperation instead tracks ref_winding with its sweep edge,
    which has no such limit — a documented divergence)."""
    d2 = ((verts - center[None, :]) ** 2).sum(axis=1)
    extent = 2.0 * math.asin(0.5 * math.sqrt(float(d2.max())))
    margin = math.pi - extent - abs(radius)
    if margin <= 1e-6:
        raise ValueError(
            f"{who}: radius {radius:.4f} + geometry extent "
            f"{extent:.4f} rad reaches the antipodal anchor of the "
            "winding walk; this construction supports buffered "
            "regions strictly inside the anchor's hemisphere "
            "complement"
        )


def _rings_contain(rings: list, P: np.ndarray) -> np.ndarray:
    """Parity containment for a disjoint simple-ring set bounding a
    0/1-winding region (CCW shells XOR CW holes)."""
    from .loop import Loop
    from .measures import loop_signed_area

    got = np.zeros(len(P), dtype=bool)
    for ring in rings:
        arr = np.asarray(ring)
        if loop_signed_area(arr) < 0:
            arr = arr[::-1]
        got ^= Loop(np.ascontiguousarray(arr)).contains_points(P)
    return got


def _loop_min_dist2(verts: np.ndarray, P: np.ndarray) -> np.ndarray:
    """Min chord-squared distance from each probe to a CLOSED loop's
    boundary edges."""
    return _rings_min_dist2([verts], P)


# unclamped on purpose: a negative radius maps to +r, which probe_gate's
# classify(radius - band) relies on (geom.clamped_chord2 would give 0)
def _chord2(radius: float) -> float:
    s = math.sin(0.5 * radius)
    return 4 * s * s


def probe_gate(
    groups: list,
    mode: str,
    radius: float,
    shrink_radius: float,
    n: int = 220,
    seed: int = 11,
    band: float = 5e-3,
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic probe set + INDEPENDENT containment verdicts for
    the driver's buffer gate (round-4 advice: the literal oracle
    recomputed cases through the same constructive kernels, so a
    shared kernel bug passed the gate).

    Probes are seeded-random unit points around the case.  Each is
    classified twice by the pure within-distance predicate (crossing
    parity + point-to-edge distance — code paths disjoint from the
    offset-curve/winding construction): once with the radius widened
    by `band`, once narrowed.  Probes whose two verdicts differ sit
    inside the polygonalization tolerance band around the exact
    buffered boundary and are dropped; survivors carry an unambiguous
    expected verdict that any correct ring set must reproduce by
    parity containment.  `band` covers the 4*tolerance construction
    error the Monte-Carlo validators allow (tolerance default 1e-3).

    Returns ``(P, expected)``: the kept probes and their predicate
    verdicts.  The distributed query classifies P against the EMITTED
    rings (`_rings_contain`); the oracle emits ``expected`` — the two
    agree only if the constructed geometry matches the predicate.
    """
    groups = [np.ascontiguousarray(g, dtype=np.float64) for g in groups]
    allv = np.concatenate(groups, axis=0)
    center = _unit(allv.mean(axis=0))
    r_abs = abs(radius if mode != "shrink" else shrink_radius)
    extent = float(np.linalg.norm(allv - center, axis=1).max())
    if mode == "shrink":
        # the contracted region is a sliver of the input (inradius
        # minus shrink_radius); concentrate the cloud on the loop
        # itself or almost no probe lands inside the region and the
        # gate loses its discrimination power there
        spread = 1.2 * extent
    else:
        spread = 2.5 * (r_abs + max(extent, r_abs))
    rng = np.random.default_rng(seed)
    P = center[None, :] + spread * rng.standard_normal((n, 3))
    P = P / np.linalg.norm(P, axis=1)[:, None]

    from .loop import Loop

    def classify(rr: float) -> np.ndarray:
        if mode == "point":
            d2 = np.sum((P - groups[0][0][None, :]) ** 2, axis=1)
            return d2 <= _chord2(rr)
        if mode == "polyline":
            return _polyline_min_dist2(groups[0], P) <= _chord2(rr)
        if mode == "shrink":
            lp = Loop(groups[0])
            return lp.contains_points(P) & (
                _loop_min_dist2(groups[0], P) >= _chord2(rr)
            )
        # grow / union: any layer's (inside OR within rr)
        got = np.zeros(len(P), dtype=bool)
        for g in groups:
            got |= Loop(g).contains_points(P) | (
                _loop_min_dist2(g, P) <= _chord2(rr)
            )
        return got

    if mode == "shrink":
        in_wide = classify(shrink_radius - band)
        in_narrow = classify(shrink_radius + band)
    else:
        in_wide = classify(radius + band)
        in_narrow = classify(radius - band)
    keep = in_wide == in_narrow
    return P[keep], in_narrow[keep]


def _rings_min_dist2(rings_in: list, P: np.ndarray) -> np.ndarray:
    edges = [e for ring in rings_in for e in chain_edges(ring, closed=True)]
    return edges_min_distance2(P[:, 0], P[:, 1], P[:, 2], edges)


def buffer_polygon_rings(
    rings_in: list,
    radius: float,
    tolerance: float = 1e-3,
    check: bool = True,
) -> list[np.ndarray]:
    """Polygon (ring list, region on the left: CCW shells / CW holes)
    -> buffered boundary rings.  Negative radius CONTRACTS
    (S2BufferOperation.cs:7-9): contraction by r == complement of the
    complement's expansion by r, and complementing a region just
    reverses every boundary ring — so the negative path reverses the
    input rings, expands with the SAME winding walk anchored at
    ref_winding=1 (the anchor antipode lies inside the complement),
    and reverses the output.  A contraction that empties the polygon
    returns []."""
    rings_in = [
        np.ascontiguousarray(r, dtype=np.float64) for r in rings_in
    ]
    if not rings_in:
        return []
    if radius == 0.0:
        return rings_in
    from .winding import RULE_POSITIVE, winding_operation

    allv = np.concatenate(rings_in)
    center = _unit(allv.mean(axis=0))
    _check_anchor(allv, center, radius, "buffer_polygon_rings")
    if radius > 0:
        curves = [offset_curve(r, radius, tolerance) for r in rings_in]
        rings = winding_operation(
            curves, RULE_POSITIVE, ref_point=tuple(-center), ref_winding=0
        )
    else:
        comp = [np.ascontiguousarray(r[::-1]) for r in rings_in]
        curves = [offset_curve(r, -radius, tolerance) for r in comp]
        rings_c = winding_operation(
            curves, RULE_POSITIVE, ref_point=tuple(-center), ref_winding=1
        )
        rings = [np.ascontiguousarray(r[::-1]) for r in rings_c]
    if check:
        rng = np.random.default_rng(0)
        spread = 4 * (abs(radius) + float(
            np.linalg.norm(allv - center, axis=1).max()
        ))
        P = center[None, :] + spread * rng.standard_normal((1500, 3))
        P = P / np.linalg.norm(P, axis=1)[:, None]
        inside = _rings_contain(rings_in, P)
        min_d2 = _rings_min_dist2(rings_in, P)
        s = math.sin(0.5 * abs(radius))
        if radius > 0:
            want = inside | (min_d2 <= 4 * s * s)
        else:
            want = inside & (min_d2 > 4 * s * s)
        got = _rings_contain(rings, P)
        d = 2 * np.arcsin(np.sqrt(np.clip(min_d2, 0, 4)) / 2)
        bad = (want != got) & (np.abs(d - abs(radius)) > 4 * tolerance)
        if bad.any():
            raise ValueError(
                "buffer_polygon_rings failed validation "
                f"({int(bad.sum())} probes disagree beyond 4*tol)"
            )
    return rings


def buffer_shapes_union_rings(
    shapes: list,
    radius: float,
    tolerance: float = 1e-3,
    check: bool = True,
) -> list[np.ndarray]:
    """Multi-layer buffered UNION (S2BufferOperation.cs:11-19): every
    shape's offset curve feeds ONE winding-positive walk, so
    overlapping buffered regions (winding >= 1) merge in a single
    arrangement — the reference's "union ... using a single snapping
    operation".  `shapes`: (kind, data) pairs with kind 'point' (unit
    vector), 'polyline' ((m,3) vertices), 'loop' ((m,3) CCW ring) or
    'polygon' (ring list).  radius == 0 computes the polygon union
    (degenerate point/polyline output is dropped, a documented
    divergence from the reference's degeneracy-preserving layers);
    radius < 0 removes points/polylines and allows at most one
    polygon (FAILED_PRECONDITION otherwise)."""
    if radius < 0:
        polys = [s for s in shapes if s[0] in ("loop", "polygon")]
        if len(polys) > 1:
            raise ValueError(
                "FAILED_PRECONDITION: negative buffer radius allows at "
                "most one polygon layer (S2BufferOperation.cs:15-16)"
            )
        if not polys:
            return []
        kind, data = polys[0]
        rings_in = list(data) if kind == "polygon" else [data]
        return buffer_polygon_rings(rings_in, radius, tolerance, check)

    curves: list[np.ndarray] = []
    vert_blocks: list[np.ndarray] = []
    for kind, data in shapes:
        if kind == "point":
            p = _unit(np.asarray(data, dtype=np.float64))
            vert_blocks.append(p[None, :])
            if radius > 0:
                curves.append(circle_ring(p, radius, tolerance))
        elif kind == "polyline":
            v = np.ascontiguousarray(data, dtype=np.float64)
            vert_blocks.append(v)
            if radius > 0:
                curves.append(
                    offset_curve(_doubled_path(v), radius, tolerance)
                )
        elif kind == "loop":
            v = np.ascontiguousarray(data, dtype=np.float64)
            vert_blocks.append(v)
            curves.append(offset_curve(v, radius, tolerance))
        elif kind == "polygon":
            for r in data:
                v = np.ascontiguousarray(r, dtype=np.float64)
                vert_blocks.append(v)
                curves.append(offset_curve(v, radius, tolerance))
        else:
            raise ValueError(f"unknown shape kind {kind!r}")
    if not curves:
        return []
    from .winding import RULE_POSITIVE, winding_operation

    allv = np.concatenate(vert_blocks)
    center = _unit(allv.mean(axis=0))
    _check_anchor(allv, center, radius, "buffer_shapes_union_rings")
    rings = winding_operation(
        curves, RULE_POSITIVE, ref_point=tuple(-center), ref_winding=0
    )
    if check:
        rng = np.random.default_rng(0)
        spread = 4 * (radius + float(
            np.linalg.norm(allv - center, axis=1).max()
        ))
        P = center[None, :] + spread * rng.standard_normal((1500, 3))
        P = P / np.linalg.norm(P, axis=1)[:, None]
        s = math.sin(0.5 * radius)
        want = np.zeros(len(P), dtype=bool)
        band = np.zeros(len(P), dtype=bool)
        for kind, data in shapes:
            if kind == "point":
                p = _unit(np.asarray(data, dtype=np.float64))
                d2 = ((P - p[None, :]) ** 2).sum(axis=1)
            elif kind == "polyline":
                d2 = _polyline_min_dist2(
                    np.asarray(data, dtype=np.float64), P
                )
            else:
                rl = (
                    [np.asarray(r) for r in data]
                    if kind == "polygon"
                    else [np.asarray(data)]
                )
                d2 = _rings_min_dist2(rl, P)
                want |= _rings_contain(rl, P)
            want |= d2 <= 4 * s * s
            d = 2 * np.arcsin(np.sqrt(np.clip(d2, 0, 4)) / 2)
            band |= np.abs(d - radius) <= 4 * tolerance
        got = _rings_contain(rings, P)
        bad = (want != got) & ~band
        if bad.any():
            raise ValueError(
                "buffer_shapes_union_rings failed validation "
                f"({int(bad.sum())} probes disagree beyond 4*tol)"
            )
    return rings
