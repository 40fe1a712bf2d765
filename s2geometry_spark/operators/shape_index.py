"""Distributed shape-index point-in-polygon join.

The round-1 PIP refine tested *every* edge of a region per candidate
point — O(E) per point, which dies on real polygons (a country border
has 10^5 edges).  This operator builds the MutableS2ShapeIndex
analogue (Index/MutableS2ShapeIndex.cs:1310 UpdateEdges + interior
tracking :1456-1471, S2ContainsPointQuery.cs) as a *table*:

    (region_id, index_cell, contains_center, [edges clipped to cell])

and refines each candidate point against only the edges of its index
cell, anchoring the crossing parity at the cell center:

    inside(P) = contains_center(C) XOR parity(crossings of the
                geodesic center(C)->P with the edges in C)

This is exact because S2 cells are geodesically convex (intersection
of four half-spaces within an open hemisphere): the center->P geodesic
stays inside C, so edges outside C cannot cross it, and the per-cell
edge set is a conservative superset of the edges intersecting C
(per-edge S2LatLngRectBounder bounds vs the cell rect — over-inclusion
only costs a few extra sign tests, never correctness).

Spark plan shape:
- index build: driver-side for dim-sized region lists (broadcast), or
  ``build_index_df`` distributed over regions via applyInPandas — each
  region's covering/clipping is independent, so the build parallelizes
  by region (the 100-TB fact side never participates).
- candidate generation: the shared covering-term equi-join
  ``spatial_join.covering_join`` (index cells are disjoint: at most
  one candidate row per (point, region), no dedup shuffle).
- refine: vectorized pUDF over Arrow batches grouped by index cell —
  O(edges-in-cell) per point instead of O(all edges).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.udfs import split_by_region
from ..kernels import cellid as CI
from ..kernels import edges as E
from ..kernels.coverer import CovererOptions, RegionCoverer
from ..kernels.geom import Cell
from . import coverings as COV
from . import spatial_join as SJ


def default_index_options(n_edges: int) -> CovererOptions:
    """Covering granularity scaled to the edge count: aim for a small
    number of edges per boundary cell (the reference's subdivision
    stopping rule is ~10 edges/cell, MutableS2ShapeIndex.cs:62)."""
    return CovererOptions(max_cells=max(32, n_edges // 6))


# MutableS2ShapeIndex.kCellPadding analogue: covers the face-clip and
# rect-test error bounds so the uv filter stays conservative
CELL_PADDING = 2 * (
    9 * (0.5 ** 0.5) * 2.220446049250313e-16
    + 3 * (2.0 ** 0.5) * 2.220446049250313e-16
)


def _edges_in_cell_uv(loop, idx: np.ndarray, cell: Cell) -> np.ndarray:
    """Tighten a rect-bound candidate mask with the exact uv clip
    (S2EdgeClipping): keep edge k iff its clip to the cell's face
    passes through the cell's padded uv rect."""
    from ..kernels import edgeclip as EDC

    verts = loop.verts
    n = len(verts)
    rect = (
        (cell.u_lo - CELL_PADDING, cell.u_hi + CELL_PADDING),
        (cell.v_lo - CELL_PADDING, cell.v_hi + CELL_PADDING),
    )
    keep = np.zeros(len(idx), dtype=bool)
    for t, k in enumerate(idx):
        c = verts[k]
        d = verts[(k + 1) % n]
        seg = EDC.clip_to_padded_face(c, d, cell.face, CELL_PADDING)
        if seg is None:
            continue
        keep[t] = EDC.intersects_rect(seg[0], seg[1], rect)
    return idx[keep]


def build_loop_index_entries(
    loops: list, options: CovererOptions | None = None
) -> tuple[dict, pd.DataFrame]:
    """Per-region shape index rows.

    Returns (entries, cov_pdf):
      entries: {(region_id, cell_i64): (edge_idx (k,) int64 or None,
                edges (k,2,3) float64 or None, center (3,),
                contains_center bool)} — edges is None for interior
                cells (no refine needed);
      cov_pdf: DataFrame (region_id, cov_cell int64, level int32,
               is_interior bool) for the candidate equi-join.
    """
    entries: dict = {}
    rows = []
    for rid, loop in loops:
        verts = np.asarray(loop.verts, dtype=np.float64)
        n = len(verts)
        opts = options or default_index_options(n)
        cov = RegionCoverer(opts).get_covering(loop)
        for cid in cov:
            cell = Cell(int(cid))
            cid_i64 = int(CI.as_i64(np.array([cid], np.uint64))[0])
            lvl = int(CI.level(np.array([cid], np.uint64))[0])
            mask = loop.edges_intersecting_rect(cell.get_rect_bound())
            center = tuple(float(c) for c in cell.center())
            cc = bool(loop.contains_point(center))
            idx = np.flatnonzero(mask)
            if len(idx):
                # exact uv clip prunes rect-bound false positives
                # (typically 2-4x fewer edges per cell)
                idx = _edges_in_cell_uv(loop, idx, cell)
            if len(idx):
                cd = np.stack(
                    [verts[idx], verts[(idx + 1) % n]], axis=1
                )  # (k, 2, 3)
                entries[(rid, cid_i64)] = (idx, cd, center, cc)
                is_int = False
            else:
                # boundary-free cell: uniformly inside or outside; keep
                # only interior cells as zero-edge index entries
                if not cc:
                    continue
                entries[(rid, cid_i64)] = (None, None, center, True)
                is_int = True
            rows.append((rid, cid_i64, lvl, is_int))
    cov_pdf = pd.DataFrame(
        rows, columns=["region_id", "cov_cell", "level", "is_interior"]
    ).astype(
        {
            "region_id": "int64",
            "cov_cell": "int64",
            "level": "int32",
            "is_interior": "bool",
        }
    )
    return entries, cov_pdf


def cell_parity_udf(entries: dict):
    """pUDF refine: containment via cell-center-anchored crossing
    parity against only the candidate cell's edges
    (S2ContainsPointQuery.cs semantics)."""
    from pyspark.sql.functions import pandas_udf

    def parity(key, px, py, pz):
        _eidx, cd, center, cc = entries[key]
        if cd is None:
            return cc
        edges = [(cd[k, 0], cd[k, 1]) for k in range(len(cd))]
        par = E.crossing_parity_fast_edges(edges, px, py, pz, origin=center)
        return par ^ int(cc)

    @pandas_udf(T.BooleanType())
    def _contains(
        rid: pd.Series, cell: pd.Series, x: pd.Series, y: pd.Series, z: pd.Series
    ) -> pd.Series:
        # rows grouped by (region, index cell) within the Arrow batch
        return split_by_region([rid, cell], (x, y, z), parity)

    return _contains


def point_in_loop_index_join(
    spark: SparkSession,
    points: DataFrame,
    loops: list,
    options: CovererOptions | None = None,
    point_key: str = "key",
) -> DataFrame:
    """Point-in-polygon join via the broadcast shape index: candidates
    from ``spatial_join.covering_join`` over the index cells, refine
    O(edges-in-cell) per candidate.  Output rows equal the brute-force
    (all-edges) join exactly on general-position inputs."""
    entries, cov_pdf = build_loop_index_entries(loops, options)
    cov = SJ.typed_cov_df(spark, cov_pdf, "region_id", [rid for rid, _ in loops])
    joined = SJ.covering_join(points, cov, COV.covering_levels(cov_pdf))
    contains = cell_parity_udf(entries)
    pred = contains(
        F.col("region_id"), F.col("cov_cell"),
        F.col("x"), F.col("y"), F.col("z"),
    )
    return joined.where(pred).select(F.col(point_key), F.col("region_id"))


INDEX_SCHEMA = T.StructType(
    [
        T.StructField("region_id", T.LongType(), False),
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("level", T.IntegerType(), False),
        T.StructField("contains_center", T.BooleanType(), False),
        T.StructField("n_edges", T.IntegerType(), False),
        T.StructField("edge_idx", T.ArrayType(T.IntegerType()), False),
    ]
)


def build_index_df(vertex_df: DataFrame) -> DataFrame:
    """Distributed shape-index build: (region_id, vtx_idx, x, y, z)
    vertex rows -> exploded index-cell rows, one applyInPandas group
    per region (regions build independently; a region's own build is
    the driver-side kernel above).  The scale axis is the number of
    regions — the pattern a 10^6-polygon admin-boundary table needs."""

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernels.loop import Loop

        (rid,) = key
        pdf = pdf.sort_values("vtx_idx")
        loop = Loop(pdf[["x", "y", "z"]].to_numpy())
        entries, cov_pdf = build_loop_index_entries([(int(rid), loop)])
        lvl_by_cell = dict(
            zip(cov_pdf["cov_cell"].tolist(), cov_pdf["level"].tolist())
        )
        out = []
        for (r, cid), (eidx, _cd, _center, cc) in entries.items():
            lvl = int(lvl_by_cell[cid])
            if eidx is None:
                out.append((r, cid, lvl, cc, 0, []))
            else:
                out.append(
                    (r, cid, lvl, cc, len(eidx), [int(i) for i in eidx])
                )
        return pd.DataFrame(
            out,
            columns=[
                "region_id", "cell_id", "level", "contains_center",
                "n_edges", "edge_idx",
            ],
        )

    return vertex_df.groupBy("region_id").applyInPandas(
        build, schema=INDEX_SCHEMA
    )


def index_edges_df(index_df: DataFrame, vertex_df: DataFrame) -> DataFrame:
    """Explode an index-cell table into per-(region, cell, edge) rows
    with edge coordinates and the cell center attached — the fully
    materialized shape-index layout (SURVEY §1.4) a shuffle-join refine
    consumes when the region table itself is too big to broadcast.

    index_df:  (region_id, cell_id, level, contains_center, n_edges,
                edge_idx array)   [build_index_df output]
    vertex_df: (region_id, vtx_idx, x, y, z) ordered loop vertices.
    """
    from ..functions import udfs as U

    n_verts = vertex_df.groupBy("region_id").agg(
        F.max("vtx_idx").alias("max_idx")
    )
    verts = vertex_df.join(n_verts, on="region_id")
    starts = verts.select(
        "region_id",
        F.col("vtx_idx").alias("edge_idx"),
        F.col("x").alias("cx"), F.col("y").alias("cy"), F.col("z").alias("cz"),
        F.col("max_idx"),
    )
    ends = verts.select(
        "region_id",
        F.col("vtx_idx").alias("end_idx"),
        F.col("x").alias("dx"), F.col("y").alias("dy"), F.col("z").alias("dz"),
    )
    edges = starts.join(
        ends,
        (starts["region_id"] == ends["region_id"])
        & (
            ends["end_idx"]
            == F.when(
                starts["edge_idx"] == starts["max_idx"], F.lit(0)
            ).otherwise(starts["edge_idx"] + 1)
        ),
    ).select(
        starts["region_id"], "edge_idx", "cx", "cy", "cz", "dx", "dy", "dz"
    )
    # cell centers are per CELL: compute the Arrow pUDF BEFORE the
    # edge explode, not after — a cell with k clipped edges would
    # otherwise pay the Python/Arrow round-trip k times for the same
    # center
    center = U.cellid_to_center_xyz(F.col("cell_id"))
    with_ctr = index_df.withColumns(
        {
            "ctr_x": center[0], "ctr_y": center[1], "ctr_z": center[2],
        }
    )
    exploded = with_ctr.select(
        "region_id", "cell_id", "level", "contains_center",
        "ctr_x", "ctr_y", "ctr_z",
        F.explode_outer("edge_idx").alias("edge_idx"),
    )
    return exploded.join(edges, on=["region_id", "edge_idx"], how="left")


def point_in_polygon_index_df_join(
    spark: SparkSession,
    points: DataFrame,
    index_edges: DataFrame,
    point_key: str = "key",
) -> DataFrame:
    """PIP join against a fully-distributed shape-index edge table —
    the plan for region tables too large to broadcast (10^6 admin
    polygons with 10^5-edge boundaries):

    1. ``spatial_join.covering_join``: points explode ancestors at the
       index's levels; equi-join on (cell id) against the index-edge
       rows, a shuffle join once they exceed the broadcast threshold;
    2. the refine is PURE JVM column arithmetic: each candidate row
       tests whether the geodesic [cell_center -> point] crosses its
       one edge (the same fixed-order sign expression the crossing
       oracle mirrors), then a parity aggregate per (point, region)
       XOR contains_center decides containment — no Python in the
       refine at all;
    3. index cells are disjoint per region, so each point contributes
       to exactly one cell's parity group.
    """
    from ..operators.crossing import crossing_condition_sql

    cand = SJ.covering_join(
        points,
        index_edges.withColumnRenamed("cell_id", "cov_cell"),
        COV.covering_levels(index_edges),
    )
    # A = cell center, B = the point (bare x/y/z columns), (C, D) = edge
    crossed = F.when(
        F.col("cx").isNull(), F.lit(0)
    ).otherwise(
        F.expr(crossing_condition_sql("ctr_", "", "c", "d")).cast("int")
    )
    refined = (
        cand.withColumn("crossed", crossed)
        .groupBy(point_key, "region_id", "contains_center")
        .agg(F.sum("crossed").alias("n_cross"))
        .where(
            (F.pmod(F.col("n_cross"), F.lit(2)) == 1)
            != F.col("contains_center")
        )
    )
    return refined.select(F.col(point_key), F.col("region_id"))
