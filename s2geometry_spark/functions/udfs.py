"""pandas/Arrow UDF wrappers over the numpy kernels.

Every UDF is vectorized batch-at-a-time (Arrow transfer, numpy body) —
never per-row Python (north rule).  Raw cell-id bits are stored in
LongType; the kernels view them as uint64.

The region refines (loop parity, near-loop, near-polyline and the
shape index's cell parity) share one per-region batch split,
``split_by_region``: rows are grouped by region key inside the Arrow
batch and each group runs one vectorized kernel call.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType

from ..kernels import cellid as C


@pandas_udf(LongType())
def xyz_to_cellid(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
    """Leaf cell id of a direction vector (need not be unit length)."""
    return pd.Series(
        C.as_i64(C.xyz_to_cellid(x.to_numpy(), y.to_numpy(), z.to_numpy()))
    )


@pandas_udf(LongType())
def ll_to_cellid(lat: pd.Series, lon: pd.Series) -> pd.Series:
    """Leaf cell id of (lat, lon) in degrees."""
    return pd.Series(C.as_i64(C.ll_to_cellid(lat.to_numpy(), lon.to_numpy())))


@pandas_udf(ArrayType(DoubleType()))
def cellid_to_center_xyz(cid: pd.Series) -> pd.Series:
    x, y, z = C.cellid_to_xyz(cid.to_numpy())
    return pd.Series(list(np.stack([x, y, z], axis=1)))


@pandas_udf(StringType())
def cell_token(cid: pd.Series) -> pd.Series:
    return pd.Series(C.to_token(cid.to_numpy()))


# ---------------------------------------------------------------------
# Hilbert-order navigation (S2CellId.cs Next/Prev/Advance/
# CommonAncestorLevel).  Modular uint64 arithmetic wraps at the cube
# ends, so these stay in the numpy kernels (ANSI-mode JVM arithmetic
# would throw on the wrap); the driver oracle recomputes them
# independently in DuckDB HUGEINT arithmetic (duckdb_oracle.cellid_nav_sql).
# ---------------------------------------------------------------------

@pandas_udf(LongType())
def cell_next(cid: pd.Series) -> pd.Series:
    return pd.Series(C.as_i64(C.next_id(cid.to_numpy())))


@pandas_udf(LongType())
def cell_prev(cid: pd.Series) -> pd.Series:
    return pd.Series(C.as_i64(C.prev_id(cid.to_numpy())))


@pandas_udf(LongType())
def cell_advance(cid: pd.Series, steps: pd.Series) -> pd.Series:
    return pd.Series(C.as_i64(C.advance(cid.to_numpy(), steps.to_numpy())))


@pandas_udf(LongType())
def cell_common_ancestor_level(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        C.common_ancestor_level(a.to_numpy(), b.to_numpy()).astype(np.int64)
    )


def split_by_region(keys, xyz, kernel) -> pd.Series:
    """The per-region batch split behind every region refine: group an
    Arrow batch's rows by region key (one key Series, or several
    compared as a tuple), call ``kernel(key, px, py, pz)`` once per
    group on that group's coordinates, and scatter its boolean answers
    back into batch order (a scalar answer fills the whole group)."""
    ks = [k.to_numpy() for k in keys]
    px, py, pz = (c.to_numpy() for c in xyz)
    out = np.zeros(len(px), dtype=bool)
    order = np.lexsort(ks[::-1])
    srt = [k[order] for k in ks]
    new = np.zeros(len(order), dtype=bool)
    new[:1] = True
    for k in srt:
        new[1:] |= k[1:] != k[:-1]
    bounds = np.r_[np.flatnonzero(new), len(order)]
    for si, ei in zip(bounds[:-1], bounds[1:]):
        idx = order[si:ei]
        key = tuple(k[si] for k in srt) if len(srt) > 1 else srt[0][si]
        out[idx] = kernel(key, px[idx], py[idx], pz[idx])
    return pd.Series(out)


def loop_parity_udf(loops_by_id: dict):
    """UDF factory: crossing-number parity of candidate (region, point)
    rows against the region's loop (kernels.edges.crossing_parity_fast,
    mirrored in the DuckDB oracle's pip_loop_sql).

    ``loops_by_id``: {region_id: (edge_list, origin_inside)} — edge
    lists support both single loops and multi-ring polygons (winding
    parity, S2Polygon.cs:1757-1780); closure-captured, shipped once per
    executor in the serialized task (on a real cluster: a broadcast
    variable; region dim tables are tiny relative to the fact side by
    design, SURVEY.md §3.2).
    Returns contains := parity XOR origin_inside as boolean.
    """
    from pyspark.sql.types import BooleanType

    from ..kernels import edges as E

    def parity(rid, px, py, pz):
        edges, origin_inside = loops_by_id[rid]
        return E.crossing_parity_fast_edges(edges, px, py, pz) ^ int(origin_inside)

    @pandas_udf(BooleanType())
    def _contains(rid: pd.Series, x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
        return split_by_region([rid], (x, y, z), parity)

    return _contains


def loop_near_udf(loops_by_id: dict, radius_chord2: float):
    """UDF factory for the within-distance ("buffered") join refine:
    true iff the point's distance to the loop region is within
    `radius_chord2` (squared chord): 0 inside (crossing parity), else
    the min boundary edge distance (kernels.polyline.region_distance2;
    S2ShapeIndexBufferedRegion semantics — distance predicate, no
    buffer geometry materialized, S2Region/S2ShapeIndexBufferedRegion.cs).

    Rows must carry unit coordinates; ``loops_by_id``:
    {region_id: (verts, origin_inside)}."""
    from pyspark.sql.types import BooleanType

    from ..kernels import polyline as PL

    # edge tuples built once here, not per region per Arrow batch
    regions = {
        rid: (PL.chain_edges(verts, closed=True), oi)
        for rid, (verts, oi) in loops_by_id.items()
    }

    def near(rid, px, py, pz):
        return PL.region_distance2(px, py, pz, *regions[rid]) <= radius_chord2

    @pandas_udf(BooleanType())
    def _near(rid: pd.Series, ux: pd.Series, uy: pd.Series, uz: pd.Series) -> pd.Series:
        return split_by_region([rid], (ux, uy, uz), near)

    return _near


def polyline_near_udf(lines_by_id: dict, radius_chord2: float):
    """UDF factory for the within-distance-of-a-polyline join refine:
    true iff the point is within `radius_chord2` (squared chord) of
    some edge of the candidate line — the 1-dimensional twin of
    loop_near_udf (no interior, no parity term).

    Rows must carry unit coordinates; ``lines_by_id``:
    {line_id: verts (m,3)}."""
    from pyspark.sql.types import BooleanType

    from ..kernels import polyline as PL

    lines = {lid: PL.chain_edges(verts) for lid, verts in lines_by_id.items()}

    def near(lid, px, py, pz):
        return PL.edges_min_distance2(px, py, pz, lines[lid]) <= radius_chord2

    @pandas_udf(BooleanType())
    def _near(lid: pd.Series, ux: pd.Series, uy: pd.Series, uz: pd.Series) -> pd.Series:
        return split_by_region([lid], (ux, uy, uz), near)

    return _near


@pandas_udf(StringType())
def point_debug_string(ux: pd.Series, uy: pd.Series, uz: pd.Series) -> pd.Series:
    """S2TextFormat.ToDebugString of a unit point ("lat:lng", %.15g)."""
    from ..kernels import textformat as TF

    xs, ys, zs = ux.to_numpy(), uy.to_numpy(), uz.to_numpy()
    return pd.Series(
        [TF.point_to_string((xs[i], ys[i], zs[i])) for i in range(len(xs))]
    )


@pandas_udf(LongType())
def debug_string_to_cellid(s: pd.Series) -> pd.Series:
    """S2TextFormat.MakePoint round trip re-encoded to a leaf cell id —
    the parse path feeding the pipeline."""
    from ..kernels import textformat as TF

    pts = np.array([TF.make_point(t) for t in s.tolist()])
    if len(pts) == 0:
        return pd.Series([], dtype="int64")
    return pd.Series(C.as_i64(C.xyz_to_cellid(pts[:, 0], pts[:, 1], pts[:, 2])))
