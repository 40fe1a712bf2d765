"""Distributed point-in-region joins.

Pattern (SURVEY.md §2.4, after Index/S2RegionTermIndexer.cs and
Index/S2CellIndex.cs): every region join is a driver-side coverer, one
of two candidate joins below, and an exact vectorized refine predicate
that keeps true containments.

- ``covering_join``: the region side is a covering-cell table; the
  point side explodes each leaf cell to its ancestors at exactly the
  covering's distinct levels; a hash equi-join on the cell id yields
  candidates (a superset; at most one covering cell matches per region
  since covering cells are disjoint).
- ``leaf_range_join``: the region side is a table of disjoint leaf
  ranges on *biased* ids; a broadcast range predicate yields the
  candidates.

Scale notes: the covering side broadcasts under the session's
``spark.sql.autoBroadcastJoinThreshold`` (zero shuffle of the fact
table; candidate explosion factor == number of distinct covering
levels, typically 4-8); above it the join is a shuffled sort-merge
join on the cell id with AQE skew-join splitting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sparkfns as S
from ..kernels import cellid as CI
from ..kernels import cellunion as CU
from ..kernels.coverer import CovererOptions
from ..kernels.geom import Cap, clamped_chord2
from . import coverings as COV


def normalized_cols(df: DataFrame, x="x", y="y", z="z") -> DataFrame:
    """Append unit-vector columns (ux,uy,uz) — plain JVM arithmetic,
    written as SQL strings: one expression each instead of a dozen
    Column calls, each a Py4J round trip."""
    r = f"sqrt({x} * {x} + {y} * {y} + {z} * {z})"
    return df.withColumns(
        {f"u{a}": F.expr(f"{c} / {r}") for a, c in zip("xyz", (x, y, z))}
    )


def typed_cov_df(spark, pdf: pd.DataFrame, id_col: str, ids) -> DataFrame:
    """createDataFrame with an EXPLICIT schema — the one path every
    covering and range frame takes.  An empty region list produces an
    all-object empty pandas frame that Spark cannot infer a schema
    from, so each column is typed from its OWN dtype (the row functions cast
    their columns, so empty frames keep them; object columns hold
    strings, such as query terms) and an unsupported dtype fails
    loudly.  The id column, which pandas leaves object for
    string or empty keys, is typed from a sample id (LongType unless
    the ids are strings)."""
    from pyspark.sql import types as T

    spark_types = {
        "int64": T.LongType(), "int32": T.IntegerType(),
        "float64": T.DoubleType(), "bool": T.BooleanType(),
        "object": T.StringType(),
    }
    fields = []
    for col, dtype in pdf.dtypes.items():
        if col == id_col:
            t = T.StringType() if ids and isinstance(ids[0], str) else T.LongType()
        elif str(dtype) in spark_types:
            t = spark_types[str(dtype)]
        else:
            raise TypeError(
                f"covering column {col!r} has unsupported pandas dtype "
                f"{dtype}; cast it before building the frame"
            )
        fields.append(T.StructField(str(col), t, True))
    return spark.createDataFrame(pdf, schema=T.StructType(fields))


def cap_refine_predicate() -> Column:
    """Exact containment of the unit point (ux, uy, uz) in the cap
    (cx, cy, cz, r2): squared chord length <= radius2
    (S2Cap.cs:480-486).  min(4, |p-c|^2) like S1ChordAngle ctor.  One
    SQL expression; ``4.0D`` is a DOUBLE literal (``4.0`` reads as a
    DECIMAL)."""
    chord2 = " + ".join(f"(u{a} - c{a}) * (u{a} - c{a})" for a in "xyz")
    return F.expr(f"least({chord2}, 4.0D) <= r2")


def with_cap_params(pdf: pd.DataFrame, caps) -> pd.DataFrame:
    """Attach each cap's refine parameters (cx, cy, cz, r2) to its
    covering or range rows."""
    params = pd.DataFrame(
        [(rid, *c.center, c.radius2) for rid, c in caps],
        columns=["region_id", "cx", "cy", "cz", "r2"],
    ).astype({c: "float64" for c in ("cx", "cy", "cz", "r2")})
    return pdf.merge(params, on="region_id", how="left")


def covering_join(
    points: DataFrame, cov: DataFrame, levels: list[int]
) -> DataFrame:
    """The candidate join of every covering-term region join: each
    point's leaf ``cell_id`` explodes to its ancestor ``anc_cell`` at
    exactly the covering's ``levels`` (pure-JVM bit arithmetic, stays
    in whole-stage codegen), then equi-joins ``anc_cell == cov_cell``
    against the covering frame ``cov``.  Covering cells are disjoint
    per region, so each (point, region) pair is at most one candidate
    row — no dedup shuffle.

    The join carries no hint, so Spark's
    ``spark.sql.autoBroadcastJoinThreshold`` (64 MB in
    ``plans.session.build_session``) picks the plan: below it Spark
    broadcasts the smaller side (the covering, unless the fact side is
    estimated smaller still); above it the join shuffles on the cell
    id, with AQE skew-join splitting for hot cells.  An empty ``levels``
    (empty/degenerate region list) yields a valid zero-row frame
    rather than an un-typeable empty array expression.  The ancestors
    are one SQL expression, ``explode(array(...))`` over the
    ``sparkfns.cell_parent`` bit trick, not a Column per level: each
    Column call is a Py4J round trip."""
    if levels:
        parents = ", ".join(
            f"(cell_id & {-lsb}) | {lsb}"
            for lsb in map(S.lsb_for_level, levels)
        )
        probe = points.withColumn(
            "anc_cell", F.expr(f"explode(array({parents}))")
        )
    else:
        probe = points.withColumn(
            "anc_cell", F.lit(None).cast("long")
        ).where(F.lit(False))
    return probe.join(cov, probe["anc_cell"] == cov["cov_cell"], "inner")


def _biased_bounds(pdf: pd.DataFrame) -> pd.DataFrame:
    """Raw inclusive leaf bounds (lo, hi) -> biased signed bounds, in
    one vectorized ``CI.bias`` call."""
    b = CI.bias(pdf[["lo", "hi"]].to_numpy(np.uint64).reshape(-1, 2))
    return pdf.assign(lo=b[:, 0], hi=b[:, 1])


def leaf_range_join(points: DataFrame, ranges: DataFrame) -> DataFrame:
    """The S2CellIndex candidate join (Index/S2CellIndex.cs:56-71):
    broadcast range predicate ``bias(leaf) BETWEEN lo AND hi`` against
    a table of disjoint leaf ranges on *biased* ids (order-isomorphic
    to unsigned cell-id order).  The fact side never shuffles."""
    probe = points.withColumn("leaf_biased", S.cell_bias(F.col("cell_id")))
    cond = (F.col("leaf_biased") >= F.col("lo")) & (
        F.col("leaf_biased") <= F.col("hi")
    )
    return probe.join(F.broadcast(ranges), on=cond, how="inner")


def _normalized_cover_rows(id_col: str, coverings) -> pd.DataFrame:
    """(id_col, cov_cell, level) rows of each region's normalized
    covering, from [(id, covering cells)] — disjoint cells, so each
    (point, region) pair matches at most one row."""
    ids, cells = [], []
    for rid, cov in coverings:
        cov = CU.normalize(cov)
        ids += [rid] * len(cov)
        cells += cov
    u = np.array(cells, dtype=np.uint64)
    return pd.DataFrame(
        {id_col: ids, "cov_cell": CI.as_i64(u), "level": CI.level(u)}
    )


def point_in_cap_join(
    spark: SparkSession,
    points: DataFrame,
    caps: list[tuple[object, Cap]],
    options: CovererOptions | None = None,
    point_key: str = "key",
) -> DataFrame:
    """Join points (with x,y,z and cell_id columns) to containing caps.

    Returns (point_key, region_id) pairs, exactly the brute-force
    result set (refine predicate is bit-identical arithmetic).  The
    candidate join is ``covering_join``, so Spark's broadcast threshold
    picks broadcast or shuffle.
    """
    cov_pdf = COV.build_covering_rows(caps, options)
    cov = typed_cov_df(
        spark, with_cap_params(cov_pdf, caps), "region_id",
        [rid for rid, _ in caps],
    )
    joined = covering_join(
        normalized_cols(points), cov, COV.covering_levels(cov_pdf)
    )
    return joined.where(cap_refine_predicate()).select(
        F.col(point_key), F.col("region_id")
    )


def point_in_loop_join(
    spark: SparkSession,
    points: DataFrame,
    loops: list,
    options: CovererOptions | None = None,
    point_key: str = "key",
) -> DataFrame:
    """Join points (x,y,z + cell_id columns) to containing loop regions.

    Pattern (SURVEY.md §2.4): region loops -> driver-side coverer ->
    ``covering_join`` (broadcast or shuffle by Spark's threshold);
    crossing-number parity refine (vectorized pUDF, S2Loop.cs Contains
    semantics), arithmetic-identical to the brute-force SQL oracle.
    """
    from ..functions import udfs as U

    cov_pdf = COV.build_covering_rows(loops, options)
    cov = typed_cov_df(spark, cov_pdf, "region_id", [rid for rid, _ in loops])
    joined = covering_join(points, cov, COV.covering_levels(cov_pdf))
    loops_by_id = {
        rid: (rg.edges, rg.origin_inside) for rid, rg in loops
    }
    contains = U.loop_parity_udf(loops_by_id)
    pred = contains(F.col("region_id"), F.col("x"), F.col("y"), F.col("z"))
    return joined.where(pred).select(F.col(point_key), F.col("region_id"))


def point_in_cap_range_join(
    spark: SparkSession,
    points: DataFrame,
    caps: list[tuple[object, Cap]],
    options: CovererOptions | None = None,
    point_key: str = "key",
) -> DataFrame:
    """Point-in-cap join via the S2CellIndex pattern (SURVEY.md §2.4
    cell-range join): coverings decomposed into disjoint leaf ranges
    -> ``leaf_range_join``; exact chord refine.  Result rows are
    identical to point_in_cap_join.

    Scale note: the range form suits few-large-regions workloads (ranges
    << covering cells); for many regions the equi-join form wins.
    """
    from ..kernels.coverer import RegionCoverer

    rc = RegionCoverer(options)
    rows = [
        (rid, lo, hi)
        for rid, cap in caps
        for lo, hi in CU.leaf_ranges(CU.normalize(rc.get_covering(cap)))
    ]
    ranges = _biased_bounds(
        pd.DataFrame(rows, columns=["region_id", "lo", "hi"])
    )
    ranges = typed_cov_df(
        spark, with_cap_params(ranges, caps), "region_id",
        [rid for rid, _ in caps],
    )
    joined = leaf_range_join(normalized_cols(points), ranges)
    return joined.where(cap_refine_predicate()).select(
        F.col(point_key), F.col("region_id")
    )


def point_near_loop_join(
    spark: SparkSession,
    points: DataFrame,
    loops: list,
    radius_rad: float,
    options: CovererOptions | None = None,
    point_key: str = "key",
) -> DataFrame:
    """Within-distance ("buffered") join: points within `radius_rad` of
    each loop region (inside counts).  Candidates come from the
    distance-callback buffered-region covering
    (kernels.buffered_region, the S2ShapeIndexBufferedRegion pattern —
    cell-to-edge distances drive the coverer, no buffer polygon is
    ever built and no whole-parent-cell over-covering as with
    S2CellUnion.Expand) through ``covering_join``; the refine
    predicate is crossing parity OR min boundary edge distance
    (vectorized).  A negative or NaN radius raises ValueError."""
    from ..functions import udfs as U
    from ..kernels.buffered_region import buffered_loop_covering

    # the ONE shared definition; it rejects a bad radius before the coverer
    radius_chord2 = near_chord2(radius_rad)
    cov_pdf = _normalized_cover_rows(
        "region_id",
        ((rid, buffered_loop_covering(lp, radius_rad, options))
         for rid, lp in loops),
    )
    cov = typed_cov_df(spark, cov_pdf, "region_id", [rid for rid, _ in loops])
    joined = covering_join(
        normalized_cols(points), cov, COV.covering_levels(cov_pdf)
    )
    loops_by_id = {rid: (lp.verts, lp.origin_inside) for rid, lp in loops}
    near = U.loop_near_udf(loops_by_id, radius_chord2)
    refined = joined.where(
        near(F.col("region_id"), F.col("ux"), F.col("uy"), F.col("uz"))
    )
    return refined.select(F.col(point_key), F.col("region_id"))


def near_chord2(radius_rad: float) -> float:
    """radius (radians) -> the squared-chord bound used by the
    within-distance refines.  ONE definition shared by the Spark
    predicates and the DuckDB oracle literals — the exact IEEE
    expression must match on both sides or boundary-distance rows
    diverge.  A negative or NaN radius raises ValueError; the coverer's
    ``clamped_chord2`` would silently clamp it to 0."""
    if not radius_rad >= 0:
        raise ValueError(f"radius_rad must be >= 0, got {radius_rad!r}")
    return clamped_chord2(radius_rad)


def point_near_polyline_join(
    spark: SparkSession,
    points: DataFrame,
    polylines: list,
    radius_rad: float,
    options: CovererOptions | None = None,
    point_key: str = "key",
) -> DataFrame:
    """Within-distance join against POLYLINE dim geometry ("points
    within d of a route"): candidates from the distance-callback
    buffered-polyline covering (kernels.buffered_region — cell-to-edge
    distances drive the coverer, no stadium polygon is built) through
    ``covering_join``, refined by the exact vectorized min-edge-distance
    predicate.  The streaming twin (streaming/route_stream) runs this
    same operator over each micro-batch, so their plans cannot drift.

    ``polylines``: [(line_id, verts (m,3))].  Output (key, line_id).
    A negative or NaN radius raises ValueError."""
    from ..functions import udfs as U
    from ..kernels.buffered_region import buffered_polyline_covering

    radius_chord2 = near_chord2(radius_rad)  # before the coverer runs
    cov_pdf = _normalized_cover_rows(
        "line_id",
        ((lid, buffered_polyline_covering(verts, radius_rad, options))
         for lid, verts in polylines),
    )
    cov = typed_cov_df(
        spark, cov_pdf, "line_id", [lid for lid, _ in polylines]
    )
    joined = covering_join(
        normalized_cols(points), cov, COV.covering_levels(cov_pdf)
    )
    lines_by_id = {lid: np.asarray(v, dtype=float) for lid, v in polylines}
    near = U.polyline_near_udf(lines_by_id, radius_chord2)
    return joined.where(
        near(F.col("line_id"), F.col("ux"), F.col("uy"), F.col("uz"))
    ).select(F.col(point_key), F.col("line_id"))


def point_in_cap_semi(
    spark: SparkSession,
    points: DataFrame,
    caps: list[tuple[object, Cap]],
    options: CovererOptions | None = None,
    point_key: str = "key",
    anti: bool = False,
) -> DataFrame:
    """Semi/anti form: points that are inside (outside) any cap."""
    pairs = point_in_cap_join(spark, points, caps, options, point_key=point_key)
    how = "left_anti" if anti else "left_semi"
    return points.join(pairs.select(point_key).distinct(), on=point_key, how=how)


def label_range_join(
    spark: SparkSession,
    points: DataFrame,
    entries: list,
    point_key: str = "key",
) -> DataFrame:
    """General S2CellIndex lookup as a distributed range join: given
    (cell_id, label) index entries (cells may nest/overlap/repeat),
    return (point_key, label) for every point whose leaf cell is
    contained in some indexed cell (Index/S2CellIndex.cs
    GetIntersectingLabels semantics for point targets).

    The driver sweeps the entries into disjoint leaf ranges
    (kernels.cell_index), so each point matches exactly one range row
    per label — no dedup shuffle; ``leaf_range_join`` broadcasts the
    range table, so the fact side never shuffles.  Labels are an
    opaque caller type (S2CellIndex allows arbitrary labels); only the
    range bounds are cast."""
    from ..kernels.cell_index import CellIndex

    rows = [
        (lo, hi, lab)
        for lo, hi, labels in CellIndex(entries).range_rows()
        for lab in labels
    ]
    ranges = typed_cov_df(
        spark,
        _biased_bounds(pd.DataFrame(rows, columns=["lo", "hi", "label"])),
        "label",
        [lab for _cid, lab in entries],
    )
    return leaf_range_join(points, ranges).select(
        F.col(point_key), F.col("label")
    )
