"""Raster<->vector projection kernels: Plate Carree + spherical
Mercator, and a tolerance-driven geodesic edge tessellator.

Vectorized numpy re-expressions of the reference semantics
(S2Projections.cs:85-181; S2EdgeTessellator.cs:1-30 recursive
subdivision).  Used by the mosaic operator to project tile/cell
polygons into 2D raster space and to emit geodesic vector extents for
rasterized mosaics (SURVEY.md §2.9 raster<->vector row).
"""

from __future__ import annotations

import math

import numpy as np


class PlateCarree:
    """(x, y) = scale/pi * (lng, lat) (S2Projections.cs:94-126)."""

    def __init__(self, x_scale: float = math.pi):
        self.x_wrap = 2 * x_scale
        self.to_radians = math.pi / x_scale
        self.from_radians = x_scale / math.pi

    def project_ll(self, lat_rad: np.ndarray, lng_rad: np.ndarray):
        return self.from_radians * lng_rad, self.from_radians * lat_rad

    def unproject(self, x: np.ndarray, y: np.ndarray):
        rem = np.remainder(x + self.x_wrap / 2, self.x_wrap) - self.x_wrap / 2
        return self.to_radians * y, self.to_radians * rem  # (lat, lng)


class Mercator:
    """Spherical (Web) Mercator (S2Projections.cs:142-181)."""

    def __init__(self, max_x: float = math.pi):
        self.x_wrap = 2 * max_x
        self.to_radians = math.pi / max_x
        self.from_radians = max_x / math.pi

    def project_ll(self, lat_rad: np.ndarray, lng_rad: np.ndarray):
        sin_phi = np.sin(lat_rad)
        y = 0.5 * np.log((1 + sin_phi) / (1 - sin_phi))
        return self.from_radians * lng_rad, self.from_radians * y

    def unproject(self, x: np.ndarray, y: np.ndarray):
        rem = np.remainder(x + self.x_wrap / 2, self.x_wrap) - self.x_wrap / 2
        k = np.exp(2 * self.to_radians * y)
        lat = np.where(
            np.isinf(k), math.pi / 2, np.arcsin((k - 1) / (k + 1))
        )
        return lat, self.to_radians * rem


def _slerp(a, b, t: float):
    """Spherical interpolation between unit vectors."""
    cosw = float(np.clip(np.dot(a, b), -1.0, 1.0))
    w = math.acos(cosw)
    if w < 1e-15:
        return a
    sa = math.sin((1 - t) * w) / math.sin(w)
    sb = math.sin(t * w) / math.sin(w)
    p = sa * a + sb * b
    return p / np.linalg.norm(p)


def _ll_of(p):
    return (
        math.atan2(p[2], math.hypot(p[0], p[1])),
        math.atan2(p[1], p[0]),
    )


def tessellate_projected(
    a, b, projection, tolerance_rad: float = 1e-4, max_depth: int = 16
) -> list:
    """Geodesic edge (a, b unit vectors) -> planar polyline [(x, y)...]
    whose chords stay within `tolerance_rad` of the projected geodesic
    (S2EdgeTessellator.AppendProjected semantics: recursive bisection
    until the midpoint error is under tolerance)."""
    a = np.asarray(a, float)
    b = np.asarray(b, float)

    def proj(p):
        lat, lng = _ll_of(p)
        x, y = projection.project_ll(np.array([lat]), np.array([lng]))
        return float(x[0]), float(y[0])

    out = [proj(a)]

    def recurse(p0, p1, x0, y0, x1, y1, depth):
        mid_geo = _slerp(p0, p1, 0.5)
        mx, my = proj(mid_geo)
        # error: planar distance between projected geodesic midpoint and
        # the chord midpoint, in projected units ~ radians for PlateCarree
        ex = mx - 0.5 * (x0 + x1)
        ey = my - 0.5 * (y0 + y1)
        if depth >= max_depth or (ex * ex + ey * ey) <= tolerance_rad**2:
            out.append((x1, y1))
            return
        recurse(p0, mid_geo, x0, y0, mx, my, depth + 1)
        recurse(mid_geo, p1, mx, my, x1, y1, depth + 1)

    (x0, y0), (x1, y1) = proj(a), proj(b)
    recurse(a, b, x0, y0, x1, y1, 0)
    return out
