"""pandas/Arrow UDF wrappers over the numpy kernels.

Every UDF is vectorized batch-at-a-time (Arrow transfer, numpy body) —
never per-row Python (north rule).  Raw cell-id bits are stored in
LongType; the kernels view them as uint64.
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

    @pandas_udf(BooleanType())
    def _contains(rid: pd.Series, x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
        rids = rid.to_numpy()
        px, py, pz = x.to_numpy(), y.to_numpy(), z.to_numpy()
        out = np.zeros(len(rids), dtype=bool)
        # vectorize per region group within the Arrow batch
        order = np.argsort(rids, kind="stable")
        sorted_rids = rids[order]
        starts = np.flatnonzero(
            np.r_[True, sorted_rids[1:] != sorted_rids[:-1]]
        )
        bounds = np.r_[starts, len(sorted_rids)]
        for si, ei in zip(bounds[:-1], bounds[1:]):
            idx = order[si:ei]
            region_edges, origin_inside = loops_by_id[sorted_rids[si]]
            par = E.crossing_parity_fast_edges(
                region_edges, px[idx], py[idx], pz[idx]
            )
            out[idx] = (par ^ int(origin_inside)).astype(bool)
        return pd.Series(out)

    return _contains


def loop_near_udf(loops_by_id: dict, radius_chord2: float):
    """UDF factory for the within-distance ("buffered") join refine:
    true iff the point is inside the loop (crossing parity) OR within
    `radius_chord2` (squared chord) of some boundary edge
    (S2ShapeIndexBufferedRegion semantics — distance predicate, no
    buffer geometry materialized, S2Region/S2ShapeIndexBufferedRegion.cs).

    Rows must carry unit coordinates; ``loops_by_id``:
    {region_id: (verts, origin_inside)}."""
    from pyspark.sql.types import BooleanType

    from ..kernels import edges as E
    from ..kernels import polyline as PL

    # hoist the per-edge endpoint tuples out of the UDF: rebuilding them
    # inside costs O(vertices) Python-tuple churn per region per Arrow
    # batch; the values (float() of the same doubles) are bit-identical
    edge_tuples = {
        rid: [
            (
                tuple(float(v) for v in verts[k]),
                tuple(float(v) for v in verts[(k + 1) % len(verts)]),
            )
            for k in range(len(verts))
        ]
        for rid, (verts, _oi) in loops_by_id.items()
    }

    @pandas_udf(BooleanType())
    def _near(rid: pd.Series, ux: pd.Series, uy: pd.Series, uz: pd.Series) -> pd.Series:
        rids = rid.to_numpy()
        px, py, pz = ux.to_numpy(), uy.to_numpy(), uz.to_numpy()
        out = np.zeros(len(rids), dtype=bool)
        order = np.argsort(rids, kind="stable")
        srt = rids[order]
        starts = np.flatnonzero(np.r_[True, srt[1:] != srt[:-1]])
        bounds = np.r_[starts, len(srt)]
        for si, ei in zip(bounds[:-1], bounds[1:]):
            idx = order[si:ei]
            verts, origin_inside = loops_by_id[srt[si]]
            inside = (
                E.crossing_parity_fast(verts, px[idx], py[idx], pz[idx])
                ^ int(origin_inside)
            ).astype(bool)
            min_d2 = np.full(len(idx), np.inf)
            for a, b in edge_tuples[srt[si]]:
                d2 = PL.edge_distance2_batch(px[idx], py[idx], pz[idx], a, b)
                min_d2 = np.minimum(min_d2, d2)
            out[idx] = inside | (min_d2 <= radius_chord2)
        return pd.Series(out)

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

    # hoisted per-edge endpoint tuples (see loop_near_udf): values are
    # bit-identical, built once instead of per region per Arrow batch
    edge_tuples = {
        lid: [
            (
                tuple(float(v) for v in verts[k]),
                tuple(float(v) for v in verts[k + 1]),
            )
            for k in range(len(verts) - 1)
        ]
        for lid, verts in lines_by_id.items()
    }

    @pandas_udf(BooleanType())
    def _near(lid: pd.Series, ux: pd.Series, uy: pd.Series, uz: pd.Series) -> pd.Series:
        lids = lid.to_numpy()
        px, py, pz = ux.to_numpy(), uy.to_numpy(), uz.to_numpy()
        out = np.zeros(len(lids), dtype=bool)
        order = np.argsort(lids, kind="stable")
        srt = lids[order]
        starts = np.flatnonzero(np.r_[True, srt[1:] != srt[:-1]])
        bounds = np.r_[starts, len(srt)]
        for si, ei in zip(bounds[:-1], bounds[1:]):
            idx = order[si:ei]
            min_d2 = np.full(len(idx), np.inf)
            for a, b in edge_tuples[srt[si]]:
                d2 = PL.edge_distance2_batch(px[idx], py[idx], pz[idx], a, b)
                min_d2 = np.minimum(min_d2, d2)
            out[idx] = min_d2 <= radius_chord2
        return pd.Series(out)

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
