"""Distance-callback buffered region: the geometry-free Region view of
"loop expanded by radius r" (S2Region/S2ShapeIndexBufferedRegion.cs).

No buffer polygon is built; the coverer's Contains / MayIntersect
callbacks compute distances from candidate cells to the original loop
(cell<->edge and cell<->point kernels, kernels.cell_dist), so
coverings of geometry-plus-radius are as tight as the coverer allows —
unlike S2CellUnion.Expand (kernels.cellunion.expand_radius), which can
only over-cover by whole parent cells at max_level_diff granularity.

Distances compare in squared chord length.  The reference's
radius.Successor() margin (so radius == 0 behaves as <=) maps to a
one-ulp relative bump of the chord-squared bound.
"""

from __future__ import annotations

import math

import numpy as np

from .cell_dist import (
    cell_distance_to_edges_min,
    cell_distance_to_points,
    point_to_edges_distance2,
    points_to_edges_min,
)
from .geom import Cap, Cell, Region, clamped_chord2


def _angle(chord2: float) -> float:
    return 2.0 * math.asin(0.5 * math.sqrt(min(max(chord2, 0.0), 4.0)))


class BufferedLoopRegion(Region):
    """All points within `radius_rad` of a loop (boundary or interior)
    as a coverable Region (S2ShapeIndexBufferedRegion.cs:96-178 with a
    single-loop "index")."""

    def __init__(self, loop, radius_rad: float):
        self.loop = loop
        self.radius_rad = float(radius_rad)
        # radius.Successor() semantics: accept distance == radius
        self._radius2 = clamped_chord2(self.radius_rad) * (1 + 4e-16) + 5e-324
        verts = np.asarray(loop.verts, dtype=float)
        self._av = verts
        self._bv = np.roll(verts, -1, axis=0)

    # -- distances ------------------------------------------------------

    def _dist2_to_point(self, p) -> float:
        if self.loop.contains_point(p):
            return 0.0
        return float(
            point_to_edges_distance2(p, self._av, self._bv).min()
        )

    def _dist2_to_cell(self, cell: Cell) -> float:
        """Min squared-chord distance from the loop (with interior) to
        the cell (S2ClosestEdgeQuery cell target with
        IncludeInteriors)."""
        if self.loop.may_intersect_cell(cell):
            return 0.0  # boundary passes through the cell
        if self.loop.contains_point(cell.center_raw()):
            return 0.0  # cell entirely in the loop interior
        # no boundary edge intersects the cell here, so the vectorized
        # min is exactly the scalar per-edge cell_distance_to_edge min
        return cell_distance_to_edges_min(cell, self._av)

    # -- Region interface ----------------------------------------------

    def get_cap_bound(self) -> Cap:
        base = self.loop.get_cap_bound()
        return Cap(
            base.center,
            clamped_chord2(_angle(base.radius2) + self.radius_rad),
        )

    def contains_point(self, p) -> bool:
        return self._dist2_to_point(tuple(map(float, p))) <= self._radius2

    def contains_cell(self, cell: Cell) -> bool:
        # conservative, as in the reference
        # (S2ShapeIndexBufferedRegion.Contains): the unbuffered loop
        # contains the cell, or the distance to the cell center is
        # within radius minus the cell's bounding-cap radius
        if self.loop.contains_cell(cell):
            return True
        cap = cell.get_cap_bound()
        cap_ang = _angle(cap.radius2)
        if self.radius_rad < cap_ang:
            return False
        center = cell.center_raw()
        if self.loop.contains_point(center):
            d2 = 0.0
        else:
            d2 = float(
                point_to_edges_distance2(
                    tuple(map(float, center)), self._av, self._bv
                ).min()
            )
        return d2 <= clamped_chord2(self.radius_rad - cap_ang) * (1 + 4e-16)

    def may_intersect_cell(self, cell: Cell) -> bool:
        return self._dist2_to_cell(cell) <= self._radius2


def buffered_loop_covering(
    loop, radius_rad: float, options=None
) -> list[int]:
    """Tight covering of loop-plus-radius via the distance-callback
    region (the S2ShapeIndexBufferedRegion usage pattern)."""
    from .coverer import RegionCoverer

    rc = RegionCoverer(options)
    return rc.get_covering(BufferedLoopRegion(loop, radius_rad))


class BufferedPolylineRegion(Region):
    """All points within `radius_rad` of an open polyline (no
    interior) as a coverable Region — the S2ShapeIndexBufferedRegion
    pattern with a 1-dimensional "index"
    (S2Region/S2ShapeIndexBufferedRegion.cs:96-178), closing the
    "within d of a route" join shape."""

    def __init__(self, verts: np.ndarray, radius_rad: float):
        from .loop import RectBounder

        verts = np.ascontiguousarray(verts, dtype=np.float64)
        assert verts.ndim == 2 and verts.shape[1] == 3 and len(verts) >= 2
        self.verts = verts
        self.radius_rad = float(radius_rad)
        self._radius2 = clamped_chord2(self.radius_rad) * (1 + 4e-16) + 5e-324
        self._av = verts[:-1]
        self._bv = verts[1:]
        # per-edge conservative rect bounds (open chain)
        lat_lo, lat_hi, lng_lo, lng_hi = [], [], [], []
        for k in range(len(verts) - 1):
            rb = RectBounder()
            for v in (verts[k], verts[k + 1]):
                rb.add_point((float(v[0]), float(v[1]), float(v[2])))
            b = rb.get_bound()
            lat_lo.append(b.lat.lo)
            lat_hi.append(b.lat.hi)
            lng_lo.append(b.lng.lo)
            lng_hi.append(b.lng.hi)
        self._eb = (
            np.array(lat_lo), np.array(lat_hi),
            np.array(lng_lo), np.array(lng_hi),
        )

    def _edges_intersect_rect(self, rect) -> bool:
        lat_lo, lat_hi, lng_lo, lng_hi = self._eb
        if rect.is_empty():
            return False
        lat_ok = (lat_lo <= rect.lat.hi) & (rect.lat.lo <= lat_hi)
        inv_x = lng_lo > lng_hi
        ylo, yhi = rect.lng.lo, rect.lng.hi
        overlap = (ylo <= lng_hi) | (yhi >= lng_lo)
        if ylo > yhi:
            lng_ok = overlap | inv_x
        else:
            lng_ok = np.where(
                inv_x, overlap, (ylo <= lng_hi) & (yhi >= lng_lo)
            )
        return bool((lat_ok & lng_ok).any())

    def _dist2_to_point(self, p) -> float:
        return float(
            point_to_edges_distance2(p, self._av, self._bv).min()
        )

    def _dist2_to_cell(self, cell: Cell) -> float:
        if self._edges_intersect_rect(cell.get_rect_bound()):
            return 0.0  # conservative: an edge may pass through
        # no edge touches the cell: min(vertex distances,
        # corner-to-edge) is the exact cell<->chain distance (every
        # edge endpoint is a chain vertex)
        best = float(cell_distance_to_points(cell, self.verts).min())
        if best == 0.0:
            return 0.0
        corners = np.asarray(
            [tuple(float(c) for c in cell.vertex(k)) for k in range(4)]
        )
        return min(best, points_to_edges_min(corners, self._av, self._bv))

    # -- Region interface ----------------------------------------------

    def get_cap_bound(self) -> Cap:
        center = self.verts.mean(axis=0)
        center = center / np.linalg.norm(center)
        d2 = ((self.verts - center[None, :]) ** 2).sum(axis=1)
        ang = 2.0 * math.asin(0.5 * math.sqrt(float(d2.max())))
        return Cap(
            tuple(float(c) for c in center),
            clamped_chord2(ang + self.radius_rad),
        )

    def contains_point(self, p) -> bool:
        return self._dist2_to_point(tuple(map(float, p))) <= self._radius2

    def contains_cell(self, cell: Cell) -> bool:
        cap = cell.get_cap_bound()
        cap_ang = _angle(cap.radius2)
        if self.radius_rad < cap_ang:
            return False
        center = cell.center_raw()
        d2 = self._dist2_to_point(tuple(map(float, center)))
        return d2 <= clamped_chord2(self.radius_rad - cap_ang) * (1 + 4e-16)

    def may_intersect_cell(self, cell: Cell) -> bool:
        return self._dist2_to_cell(cell) <= self._radius2


def buffered_polyline_covering(
    verts, radius_rad: float, options=None
) -> list[int]:
    """Tight covering of polyline-plus-radius via the distance
    callbacks (no stadium polygon is ever built)."""
    from .coverer import RegionCoverer

    rc = RegionCoverer(options)
    return rc.get_covering(BufferedPolylineRegion(verts, radius_rad))
