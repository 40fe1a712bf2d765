"""Dimension-dispatched measures for arbitrary shapes
(S2ShapeMeasures.cs:16-166): length (dim 1), perimeter / area /
approx-area (dim 2), and measure-weighted centroid (all dims), summed
over a shape's edge chains.

A shape here is ``MultiShape(dimension, chains)`` with chains as
vertex arrays: dim 0 = one point per chain, dim 1 = open polylines,
dim 2 = closed lax loops (0-vertex chain = the full loop, per the
S2LaxPolygonShape convention).

Driver-side kernel over dim-scale geometry; the per-chain measures are
the golden-tested ports in kernels/measures and kernels/polyline.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .measures import (
    M_2_PI,
    M_4_PI,
    MIN_NORM,
    loop_centroid,
    loop_curvature,
    loop_perimeter,
    loop_signed_area,
)
from .polyline import Polyline, polyline_centroid


@dataclass
class MultiShape:
    dimension: int
    chains: list  # list of (n, 3) vertex arrays


def _lax_signed_area(verts) -> float:
    """GetSignedArea with the lax-loop empty/full conventions: a loop
    with no vertices is the full sphere and has a tiny negative signed
    area (S2LoopMeasures.cs:130-160, GetCurvature:182-192)."""
    if len(verts) == 0:
        return -MIN_NORM
    return loop_signed_area(verts)


def _lax_curvature(verts) -> float:
    if len(verts) == 0:
        return -M_2_PI
    return loop_curvature([tuple(float(x) for x in v) for v in verts])


def shape_length(shape: MultiShape) -> float:
    """Sum of polyline lengths (radians); zero unless dimension 1."""
    if shape.dimension != 1:
        return 0.0
    return sum(
        Polyline(ch).length() for ch in shape.chains if len(ch) > 0
    )


def shape_perimeter(shape: MultiShape) -> float:
    """Sum of loop perimeters (radians); zero unless dimension 2."""
    if shape.dimension != 2:
        return 0.0
    return sum(
        loop_perimeter(ch) for ch in shape.chains if len(ch) > 0
    )


def shape_area(shape: MultiShape) -> float:
    """Area in [0, 4pi] via per-loop signed areas (avoids the
    hole-cancellation catastrophe, S2ShapeMeasures.cs:57-100)."""
    if shape.dimension != 2:
        return 0.0
    area = sum(_lax_signed_area(ch) for ch in shape.chains)
    if area < 0.0:
        area += M_4_PI
    return area


def shape_approx_area(shape: MultiShape) -> float:
    """Faster area via per-loop curvature (2pi - curvature each)."""
    if shape.dimension != 2:
        return 0.0
    area = sum(M_2_PI - _lax_curvature(ch) for ch in shape.chains)
    if area <= M_4_PI:
        return area
    return math.fmod(area, M_4_PI)


def shape_centroid(shape: MultiShape) -> tuple:
    """Centroid multiplied by the shape's measure (count / length /
    area), so collection centroids sum (S2ShapeMeasures.cs:134-164)."""
    cx = cy = cz = 0.0
    for ch in shape.chains:
        if shape.dimension == 0:
            v = np.asarray(ch, dtype=np.float64).reshape(-1, 3)[0]
            c = (float(v[0]), float(v[1]), float(v[2]))
        elif shape.dimension == 1:
            c = polyline_centroid(ch)
        else:
            c = loop_centroid(ch) if len(ch) else (0.0, 0.0, 0.0)
        cx += c[0]
        cy += c[1]
        cz += c[2]
    return (cx, cy, cz)


# ---------------------------------------------------------------------
# Collection-level measures (S2ShapeIndexMeasures.cs:15-143): sums of
# per-shape measures; centroid sums over maximum-dimension shapes only.
# ---------------------------------------------------------------------

def collection_dimension(shapes: list[MultiShape]) -> int:
    return max((s.dimension for s in shapes), default=-1)


def collection_num_points(shapes: list[MultiShape]) -> int:
    return sum(len(s.chains) for s in shapes if s.dimension == 0)


def collection_length(shapes: list[MultiShape]) -> float:
    return sum(shape_length(s) for s in shapes)


def collection_perimeter(shapes: list[MultiShape]) -> float:
    return sum(shape_perimeter(s) for s in shapes)


def collection_area(shapes: list[MultiShape]) -> float:
    """May exceed 4pi when polygons overlap (reference note)."""
    return sum(shape_area(s) for s in shapes)


def collection_centroid(shapes: list[MultiShape]) -> tuple:
    dim = collection_dimension(shapes)
    cx = cy = cz = 0.0
    for s in shapes:
        if s.dimension == dim:
            c = shape_centroid(s)
            cx += c[0]
            cy += c[1]
            cz += c[2]
    return (cx, cy, cz)
