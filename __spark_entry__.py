"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + value-hash).

Design note: the geo queries derive direction vectors from integer keys
with pure integer/IEEE arithmetic (s2geometry_spark.sources.points), so
the Spark/numpy pipeline and the DuckDB SQL oracle (an independent
recursive-CTE Hilbert implementation) agree bit-for-bit on cell ids.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TILE_LEVEL = 8


_TABLE_KEYS = {
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
    "lineitem": "l_orderkey",
    "part": "p_partkey",
}


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Fact-side parquet read with the scan-width guard: the local
    fixture files are single-row-group (unsplittable), which would
    serialize every per-row kernel downstream on ONE core; at
    production scale the guard is a no-op (sources/read.py).  Spread
    by hash on the table key (skips round-robin's per-partition sort)."""
    from s2geometry_spark.sources.read import spread_scan

    return spread_scan(
        spark.read.parquet(f"{sf_dir}/{table}.parquet"),
        key=_TABLE_KEYS.get(table),
    )


def _orders_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2geometry_spark.sources import points as P

    orders = _read(spark, sf_dir, "orders")
    return P.with_xyz(orders.select(F.col("o_orderkey").alias("key")))


def _ensure_pkg(spark: SparkSession) -> None:
    """Ship the package to python workers regardless of how the driver
    built the SparkSession (a no-op when ``build_session`` made it)."""
    import os
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)
    from s2geometry_spark.plans.session import ship_package

    ship_package(spark)


# ---------------------------------------------------------------------
# Queries (Spark side)
# ---------------------------------------------------------------------


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile (level-8 ancestor) counts — the mosaic histogram."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import tile as T

    df = T.assign_cellids(_orders_points(spark, sf_dir))
    return T.tile_counts(df, TILE_LEVEL).select("tile_id", "n")


def q_cellid_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-order navigation (S2CellId.cs Next/Prev/Advance/
    CommonAncestorLevel) on level-12 ancestors of derived leaf cells,
    paired with the Hilbert successor row via a window.  Oracle:
    independent DuckDB HUGEINT re-implementation
    (duckdb_oracle.cellid_nav_sql), not a literal table."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions import sparkfns as S
    from s2geometry_spark.functions import udfs as U
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.operators.sliding import with_global_leads

    df = T.assign_cellids(_orders_points(spark, sf_dir)).select(
        "key", S.cell_parent(F.col("cell_id"), 12).alias("p12")
    )
    df = (
        with_global_leads(df, "key", ["p12"], 1)
        .withColumnRenamed("p12_lead1", "q12")
        .where(F.col("q12").isNotNull())
        .withColumn("steps", F.col("key") % 1001 - 500)
    )
    return df.select(
        "key",
        U.cell_next(F.col("p12")).alias("next12"),
        U.cell_prev(F.col("p12")).alias("prev12"),
        U.cell_advance(F.col("p12"), F.col("steps")).alias("adv12"),
        U.cell_common_ancestor_level(F.col("p12"), F.col("q12")).alias(
            "ca_level"
        ),
    )


def q_cellunion_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2CellUnion Normalize + Intersection, distributed: rows grouped
    into 16 unions of mixed-level cells (level 8 + key%3), normalized
    in ONE exchange (per-subtree exhaustive kernel; the all-JVM
    groupBy-round chain is the tested alternative), then each union
    intersected with its successor group's via unsigned range overlap.
    Oracle: fully relational DuckDB re-implementation
    (duckdb_oracle.cellunion_ops_sql)."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions import sparkfns as S
    from s2geometry_spark.operators import cellunion_ops as CU
    from s2geometry_spark.operators import tile as T

    n_groups = 16
    df = T.assign_cellids(_orders_points(spark, sf_dir))
    cells = df.select(
        (F.col("key") % n_groups).alias("g"),
        F.when(
            F.col("key") % 3 == 0, S.cell_parent(F.col("cell_id"), 8)
        )
        .when(F.col("key") % 3 == 1, S.cell_parent(F.col("cell_id"), 9))
        .otherwise(S.cell_parent(F.col("cell_id"), 10))
        .alias("cell"),
    )
    # norm feeds the self-join AND the output union — materialize once
    # (a cluster job would checkpoint the stage; plans/checkpoint.py)
    norm = CU.normalize_unions_subtree(cells).localCheckpoint()
    inter = CU.union_intersection(norm, (F.col("g") + 1) % n_groups)
    return norm.select(F.lit("norm").alias("part"), "g", "cell").unionByName(
        inter.select(F.lit("inter").alias("part"), "g", "cell")
    )


def q_s2_covering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed RegionCoverer: GetCovering / GetInteriorCovering /
    CanonicalizeCovering of one deterministic cap per sampled customer
    row, exploded with the exact reference refinement order (`ord`).
    Oracle: driver-precomputed literal table through the same kernels
    (golden-matched against the reference coverer)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import coverings as COV

    keys = (
        # plain read: the explicit repartition below already spreads
        # the filtered key set (adding spread_scan would double-shuffle)
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("key"))
        .where(F.col("key") % 150 == 0)
        .repartition(8)
    )
    return COV.cap_covering_rows_df(keys)


def q_s2_cell_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max cell↔cell squared-chord distance (S2Cell.Distance /
    MaxDistance) between level-8 ancestors of consecutive sampled
    orders.  Oracle: driver recompute through the golden-tested
    kernels (literal table)."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions import sparkfns as S
    from s2geometry_spark.operators import cell_dist_op as CD
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.operators.sliding import with_global_leads

    pts = _orders_points(spark, sf_dir).where(F.col("key") % 25 == 0)
    df = T.assign_cellids(pts).select(
        "key", S.cell_parent(F.col("cell_id"), 8).alias("cell_a")
    )
    pairs = (
        with_global_leads(df, "key", ["cell_a"], 1)
        .withColumnRenamed("cell_a_lead1", "cell_b")
        .where(F.col("cell_b").isNotNull())
        .select("key", "cell_a", "cell_b")
    )
    return CD.cell_pair_distances(pairs)


def q_s2_closest_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=2 closest labeled index cells per sampled point
    (Query/S2ClosestCellQuery.cs over a (cell_id, label) index of
    level-6 supplier cells).  Oracle: driver recompute with the same
    vectorized batch kernel (literal table)."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions.literal_oracle import (
        closest_cell_entries,
    )
    from s2geometry_spark.operators.knn import closest_cell_join

    entries = closest_cell_entries(sf_dir)
    pts = _orders_points(spark, sf_dir).where(F.col("key") % 25 == 0)
    return closest_cell_join(pts, entries, k=2)


def q_s2_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust predicates (Sign / OrderedCCW / CompareDistances /
    VertexCrossing / WedgeRelation) over sliding 5-tuples of sampled
    unit points.  Outcomes are exact ints/bools/enums; oracle is the
    driver recompute through the same exact-arithmetic kernels."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import predicates_op as PR
    from s2geometry_spark.operators.sliding import with_global_leads
    from s2geometry_spark.operators.spatial_join import normalized_cols

    pts = normalized_cols(
        _orders_points(spark, sf_dir).where(F.col("key") % 10 == 0)
    )
    df = with_global_leads(
        pts.select("key", "ux", "uy", "uz"), "key", ["ux", "uy", "uz"], 4
    )
    names = ["a", "b", "c", "d", "e"]
    for j, p in enumerate(names):
        for ax in ("x", "y", "z"):
            src = f"u{ax}" if j == 0 else f"u{ax}_lead{j}"
            df = df.withColumn(f"{p}{ax}", F.col(src))
    df = df.where(F.col("ex").isNotNull())
    return PR.predicate_columns(df)


def q_s2_loop_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """family='loop': loop↔loop Contains/Intersects/CompareBoundary/
    ContainsNested over the 25×25 synthetic-loop pair matrix
    (self-pairs hit every shared-vertex wedge branch).  family='poly':
    polygon-with-holes Contains/Intersects via signed winding over the
    annulus fixtures (in-hole disc / in-flesh ring / crossing copy).
    Oracle: driver recompute through the same kernels — exact bool/int
    equality."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import loop_relations_op as LR
    from s2geometry_spark.sources import regions_src as R

    keys = [
        int(r[0])
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select("n_nationkey")
        .collect()
    ]
    loops = dict(R.synthetic_loops(sorted(keys)))
    # JVM-native single-partition dim (createDataFrame-from-list builds
    # a Python RDD that re-launches a worker per action; a crossJoin of
    # two default-parallelism inputs launches cores^2 tasks)
    ids = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select(F.col("n_nationkey").cast("long").alias("a_id"))
        .coalesce(1)
    )
    pairs = ids.crossJoin(ids.select(F.col("a_id").alias("b_id"))).repartition(
        8
    )
    loop_arm = LR.loop_relations(pairs, loops).select(
        F.lit("loop").alias("family"),
        "a_id",
        "b_id",
        "contains",
        "intersects",
        "cmp_boundary",
        "nested",
    )
    import pandas as pd

    cases = LO.poly_relation_cases()
    case_pairs = spark.createDataFrame(
        pd.DataFrame(
            [(a, cid) for a, cid, _ar, _br in cases],
            columns=["a_id", "b_id"],
        )
    )
    cases_by_key = {(a, cid): (ar, br) for a, cid, ar, br in cases}
    poly_arm = LR.poly_relations(case_pairs, cases_by_key).select(
        F.lit("poly").alias("family"),
        "a_id",
        "b_id",
        "contains",
        "intersects",
        F.lit(0).cast("int").alias("cmp_boundary"),
        F.lit(False).alias("nested"),
    )
    return loop_arm.unionByName(poly_arm)


def q_s2_edgeclip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge→face uv clipping (S2EdgeClipping.ClipToPaddedFace) of
    consecutive sampled unit-point edges against all six cube faces.
    Oracle: driver recompute through the same kernel (literal table)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import edgeclip_op as EC
    from s2geometry_spark.operators.sliding import with_global_leads
    from s2geometry_spark.operators.spatial_join import normalized_cols

    pts = normalized_cols(
        _orders_points(spark, sf_dir).where(F.col("key") % 25 == 0)
    )
    edges = (
        with_global_leads(
            pts.select("key", "ux", "uy", "uz"),
            "key",
            ["ux", "uy", "uz"],
            1,
        )
        .select(
            "key",
            F.col("ux").alias("ax"),
            F.col("uy").alias("ay"),
            F.col("uz").alias("az"),
            F.col("ux_lead1").alias("bx"),
            F.col("uy_lead1").alias("by"),
            F.col("uz_lead1").alias("bz"),
        )
        .where(F.col("bx").isNotNull())
    )
    return EC.edge_face_clips(edges)


def q_s2_earth_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2Earth conversions + S2Metrics level pickers over per-row
    ground distances.  The kernel uses exact frexp exponent arithmetic;
    the DuckDB oracle independently re-derives levels with a corrected
    floor(log2) — a two-implementation boundary check, not a literal."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import earth_metrics_op as EM

    orders = _read(spark, sf_dir, "orders")
    df = (
        orders.select(F.col("o_orderkey").alias("key"))
        .where(F.col("key") % 10 == 0)
        .withColumn(
            "meters",
            ((F.col("key") % 100000) + 1).cast("double") * F.lit(37.5),
        )
    )
    return EM.earth_metric_columns(df)


def q_s2_textformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2TextFormat ToDebugString of sampled unit points + MakePoint
    round trip re-encoded to leaf cells.  Oracle: driver recompute
    (literal table)."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions import udfs as U
    from s2geometry_spark.operators.spatial_join import normalized_cols

    pts = normalized_cols(
        _orders_points(spark, sf_dir).where(F.col("key") % 25 == 0)
    )
    df = pts.select(
        "key",
        U.point_debug_string(
            F.col("ux"), F.col("uy"), F.col("uz")
        ).alias("debug"),
    )
    return df.withColumn(
        "cell_rt", U.debug_string_to_cellid(F.col("debug"))
    )


def q_s2_triangle_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical triangle Angle/TurnAngle/Girard/Area/SignedArea/
    TrueCentroid over sliding triples of sampled unit points.  Oracle:
    driver recompute (literal table)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import measures_op as MO
    from s2geometry_spark.operators.sliding import with_global_leads
    from s2geometry_spark.operators.spatial_join import normalized_cols

    pts = normalized_cols(
        _orders_points(spark, sf_dir).where(F.col("key") % 25 == 0)
    )
    df = with_global_leads(
        pts.select("key", "ux", "uy", "uz"), "key", ["ux", "uy", "uz"], 2
    )
    for j, p in enumerate(("a", "b", "c")):
        for ax in ("x", "y", "z"):
            src = f"u{ax}" if j == 0 else f"u{ax}_lead{j}"
            df = df.withColumn(f"{p}{ax}", F.col(src))
    df = df.where(F.col("cx").isNotNull())
    return MO.triangle_measures(df)


def q_s2_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hole-subtracted polygon areas (S2Polygon.GetArea, loops signed
    by nesting depth) via the grouped chain kernel.  Oracle: driver
    recompute (literal table)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.polygon_vertex_rows(),
        columns=["region_id", "loop_idx", "depth", "vtx_idx", "x", "y", "z"],
    )
    return MO.polygon_areas(spark.createDataFrame(pdf))


def q_s2_cell_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell uv geometry: IJLevelToBoundUV, ExpandedByDistanceUV, and
    MaximumTile (Hilbert-range tiling, limit = next sampled cell) on
    level-12 ancestors of sampled orders.  Oracle: driver recompute
    (literal table)."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions import sparkfns as S
    from s2geometry_spark.operators import cell_geometry_op as CG
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.operators.sliding import with_global_leads

    pts = _orders_points(spark, sf_dir).where(F.col("key") % 25 == 0)
    df = T.assign_cellids(pts).select(
        "key", S.cell_parent(F.col("cell_id"), 12).alias("cell")
    )
    cells = (
        with_global_leads(df, "key", ["cell"], 1)
        .withColumnRenamed("cell_lead1", "nxt")
        .where(F.col("nxt").isNotNull())
        .withColumn(
            "dist",
            F.lit(0.01) + (F.col("key") % 5).cast("double") * F.lit(0.005),
        )
    )
    return CG.cell_geometry(cells)


def _nation_caps(spark: SparkSession, sf_dir: str):
    from s2geometry_spark.sources import regions_src as R

    keys = [
        r[0]
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select("n_nationkey")
        .collect()
    ]
    return R.synthetic_caps(sorted(keys))


def _nation_loops(spark: SparkSession, sf_dir: str):
    from s2geometry_spark.sources import regions_src as R

    keys = [
        r[0]
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select("n_nationkey")
        .collect()
    ]
    return R.synthetic_loops(sorted(keys))


KNN_K = 3
# bounded-kNN arm: "k nearest within d" (Options.MaxDistance,
# S2ClosestEdgeQueryBase.cs:69-120) — squared-chord bound chosen so a
# meaningful share of queries return fewer than k rows
KNN_BOUND2 = 0.05
NEAR_RADIUS = 0.08  # radians, ~510 km


def q_near_loop_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance (buffered) join: orders points within
    NEAR_RADIUS of each loop region — covering expanded by radius,
    parity-or-edge-distance refine."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import spatial_join as SJ
    from s2geometry_spark.operators import tile as T

    pts = T.assign_cellids(_orders_points(spark, sf_dir))
    return SJ.point_near_loop_join(
        spark, pts, _nation_loops(spark, sf_dir), NEAR_RADIUS
    )


def q_near_polyline_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance join against polyline dim geometry ("points
    within d of a route"): distance-callback buffered-polyline
    covering candidates + exact min-edge-distance refine."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import spatial_join as SJ
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import regions_src as R

    pts = T.assign_cellids(_orders_points(spark, sf_dir))
    lines = [(k, R.polyline_vertices(k)) for k in range(25)]
    return SJ.point_near_polyline_join(spark, pts, lines, NEAR_RADIUS)


def q_region_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean ops (intersection/union/difference) between each loop
    and a tangent-shifted copy — arc-walk kernel distributed over
    pairs; oracle = driver-precomputed literal table."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.boolean_pair_vertices(),
        columns=["pair_id", "which", "vtx_idx", "x", "y", "z"],
    )
    return MO.boolean_pairs(spark.createDataFrame(pdf))


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image multimodal features: decode -> stats/edge-energy ->
    thumbnail re-encode, one Arrow pass.  Correctness projection keeps
    the scalar stats (exact-integer-sum forms, mirrored in the SQL
    oracle); the PNG thumbnail payload is gated by pytest round-trip
    tests instead."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import image_features as IF
    from s2geometry_spark.sources import images as IMG

    return IF.extract_features(IMG.image_table(spark, N_IMAGES)).select(
        "image_id", "w", "h", "mean_r", "mean_g", "mean_b", "mean_gray",
        "std_gray", "edge_energy", "phash_check",
    )


def q_img_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate images by perceptual-hash banding + exact
    Hamming refine, over the deterministic phash table plus planted
    <=2-bit-perturbed copies.  Oracle: brute-force all-pairs SQL
    Hamming join (candidate banding exists only on the Spark side)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import image_dedup as ID
    from s2geometry_spark.sources import images as IMG

    # the union references the phash scan twice; materialize the
    # per-image Python phash pass once
    base = IMG.phash_table(spark, N_IMAGES).localCheckpoint()
    mask = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(idx % 62 AS INT)) | "
        "shiftleft(CAST(1 AS BIGINT), CAST((idx * 31 + 7) % 62 AS INT))"
    )
    perturbed = base.select(
        (F.col("idx") + N_IMAGES).alias("idx"),
        F.col("phash").bitwiseXOR(mask).alias("phash"),
    )
    return ID.phash_near_dup(base.unionByName(perturbed))


def q_polyline_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topology-preserving per-line simplification (simplify_edge_chains
    discipline; oracle = driver-precomputed literal table)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.simplify_vertices(),
        columns=["line_id", "which", "vtx_idx", "x", "y", "z"],
    )
    return MO.simplify_lines(
        spark.createDataFrame(pdf), LO.SIMPLIFY_TOL
    )


def q_shape_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-dispatched shape measures over deterministic
    multi-chain shapes (oracle = driver-precomputed literal table)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.shape_measure_chains(),
        columns=["shape_id", "dim", "chain_id", "vtx_idx", "x", "y", "z"],
    )
    return MO.shape_measures_rows(spark.createDataFrame(pdf))


def q_polygon_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BuildPolygonBoundaries face assembly per deterministic component
    group (oracle = driver-precomputed literal table)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.polygon_boundary_components(),
        columns=["group_id", "comp_id", "loop_id", "vtx_idx", "x", "y", "z"],
    )
    return MO.polygon_boundary_faces(spark.createDataFrame(pdf))


def q_graph_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2Builder graph assembly (EdgeProcessor + loop/component/
    polyline chain assembly) per deterministic edge-soup case (oracle =
    driver-precomputed literal table)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.graph_assembly_vertex_rows(),
        columns=["case_id", "mode", "chain_id", "vtx_idx", "x", "y", "z"],
    )
    return MO.graph_assembly_rows(spark.createDataFrame(pdf))


def q_polygon_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon validity (FindSelfIntersection crossing-pair scan with
    the full S2ErrorCode taxonomy) per deterministic polygon case under
    cyclic vertex rotations (oracle = driver-precomputed literal
    table)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.validity_polygon_vertices(),
        columns=["poly_id", "chain_id", "vtx_idx", "x", "y", "z"],
    )
    return MO.polygon_validate(spark.createDataFrame(pdf))


def q_builder_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snap + simplify_edge_chains builder per deterministic case
    (multi-layer chains snapped to one site set, then jointly
    simplified; oracle = driver-precomputed literal table)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.builder_simplify_vertices(),
        columns=["case_id", "chain_id", "vtx_idx", "x", "y", "z",
                 "snap_deg", "intlatlng_e", "split", "simplify"],
    )
    return MO.builder_simplify_rows(spark.createDataFrame(pdf))


def q_mixed_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-dimension S2BooleanOperation (points x polylines x
    polygons, all boundary models, degeneracies preserved) per
    deterministic case/op pair (oracle = driver-precomputed literal
    table)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.mixed_boolean_input_rows(),
        columns=["case_id", "op", "a", "b", "polygon_model",
                 "polyline_model", "lb", "split", "snap_e"],
    )
    return MO.mixed_boolean_rows(spark.createDataFrame(pdf))


def q_convex_hull_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile (level-1 cell) spherical convex hull of customer points
    (grouped monotone-chain kernel; rows-only check — robust-predicate
    hulls are not SQL-expressible)."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions import sparkfns as S
    from s2geometry_spark.operators import measures_op as MO
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import points as P

    cust = _read(spark, sf_dir, "customer")
    pts = T.assign_cellids(
        P.with_xyz(cust.select(F.col("c_custkey").alias("key")))
    ).withColumn("grp", S.cell_parent(F.col("cell_id"), 1))
    return MO.group_convex_hull(pts)


def q_crossing_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crossing-edges join: edge pairs of two deterministic polyline
    sets (perpendicular zig-zags) that cross interiorly."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import crossing as CR
    from s2geometry_spark.sources import regions_src as R

    ea = R.polyline_edges(range(25), variant=0)
    eb = R.polyline_edges(range(25), variant=2)
    max_rad = max(CR.max_edge_radians(ea), CR.max_edge_radians(eb))
    return CR.crossing_edges_join(
        spark, CR.edges_df(spark, ea), CR.edges_df(spark, eb), max_rad
    )


def _polyline_edge_groups() -> list:
    """The 25 deterministic polylines as (line_id, [(a, b), ...]) edge
    groups — the ONE edge collection shared by the closest/furthest
    polyline arms (and re-derived edge-wise by their oracles)."""
    from s2geometry_spark.sources import regions_src as R

    by_line: dict[int, list] = {}
    for lid, _eid, a, b in R.polyline_edges(range(25)):
        by_line.setdefault(lid, []).append((a, b))
    return sorted(by_line.items())


def q_closest_polyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest polyline per order point (closest-edge query over an
    edge collection; broadcast-evaluate, vectorized edge distances)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import knn as KNN

    pts = _orders_points(spark, sf_dir)
    return KNN.closest_polyline(pts, _polyline_edge_groups())


def q_hausdorff_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hausdorff distance per nation, directed (customers -> suppliers:
    max over customers of min supplier distance) AND undirected (the
    max of both directed passes, S2HausdorffDistanceQuery.cs:18-52)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import knn as KNN
    from s2geometry_spark.sources import points as P

    cust = _read(spark, sf_dir, "customer")
    sup = _read(spark, sf_dir, "supplier")
    a = P.with_xyz(
        cust.select(
            F.col("c_custkey").alias("key"), F.col("c_nationkey").alias("grp")
        )
    )
    b = P.with_xyz(
        sup.select(
            F.col("s_suppkey").alias("key"), F.col("s_nationkey").alias("grp")
        )
    )
    return KNN.hausdorff_undirected(a, b)


def q_closest_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest polygon per order point with the interior shortcut:
    points inside a loop return dist2 = 0 without touching edge
    distances (S2ClosestEdgeQueryBase.cs:224-238
    VisitContainingShapes)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import knn as KNN

    pts = _orders_points(spark, sf_dir)
    return KNN.closest_polygon(pts, _nation_loops(spark, sf_dir))


FRACTAL_REGIONS = 8
FRACTAL_VERTICES = 512


@functools.lru_cache(maxsize=1)
def _fractal_loops_cached():
    from s2geometry_spark.sources import regions_src as R

    return tuple(R.fractal_loops(range(FRACTAL_REGIONS), FRACTAL_VERTICES))


def q_pip_index_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join via the distributed shape index
    (MutableS2ShapeIndex/S2ContainsPointQuery semantics): candidates
    from the index-cell equi-join, refine against only the candidate
    cell's clipped edges anchored at the cell center — O(edges-in-cell)
    per point instead of O(all edges), the big-polygon scale path."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import shape_index as SI
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import points as P

    cust = _read(spark, sf_dir, "customer")
    pts = T.assign_cellids(
        P.with_xyz(cust.select(F.col("c_custkey").alias("key")))
    )
    return SI.point_in_loop_index_join(spark, pts, _fractal_loops_cached())


def q_furthest_polyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Furthest polyline per order point (max distance over the edge
    collection, antipodal closest-edge trick)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import knn as KNN

    pts = _orders_points(spark, sf_dir)
    return KNN.furthest_polyline(pts, _polyline_edge_groups())


@functools.lru_cache(maxsize=1)
def _cap_cover_entries_cached() -> tuple:
    from s2geometry_spark.kernels.coverer import RegionCoverer
    from s2geometry_spark.sources import regions_src as R

    rc = RegionCoverer()
    entries = []
    for rid, cap in R.synthetic_caps(range(25)):
        for cid in rc.get_covering(cap):
            entries.append((cid, rid))
    return tuple(entries)


def _cap_cover_entries():
    return list(_cap_cover_entries_cached())


N_IMAGES = 2000
IMAGE_TILE_LEVEL = 4

EMBED_K = 5

# near-dup cosine threshold, calibrated to the synthetic embeddings
# table (near-uniform vectors, max pairwise cosine ~0.51 at sf0.01 —
# a production corpus would use ~0.9+); semantics are identical, and
# this value makes the driver query exercise non-empty dup groups
EMBED_DUP_TAU = 0.40


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread guard: the similarity operators re-key their work onto
    # slim (vec_id, band, bucket) rows and repartition those; spreading
    # the wide embedding-array rows first only pays an extra shuffle
    # (measured +30% on ann_lsh/near_dup at sf0.1)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_winding_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-way winding operation per group (union / majority / odd
    rules over three overlapping loops), distributed per group; oracle
    = driver-precomputed literal table."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.winding_group_vertices(),
        columns=["group_id", "which", "vtx_idx", "x", "y", "z"],
    )
    return MO.winding_groups(spark.createDataFrame(pdf))


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio: distributed RIFF/WAVE PCM16 decode + exact-
    integer feature extraction (one Arrow-batched mapInPandas pass);
    oracle = driver-side re-generation of the same deterministic
    payloads."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import media_ops as MED
    from s2geometry_spark.sources import media as M

    return MED.extract_audio_features(
        M.audio_table(spark, LO.N_AUDIO)
    )


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video: frame sampling by container byte-range index
    (every 2nd frame decoded, the rest never parsed) + exact per-frame
    channel sums and payload fingerprints; oracle = driver-side
    re-generation."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import media_ops as MED
    from s2geometry_spark.sources import media as M

    return MED.sample_video_frames(
        M.video_table(spark, LO.N_VIDEO), LO.FRAME_SAMPLE_EVERY
    )


def q_shape_nesting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ring nesting per multi-ring shape (S2ShapeNestingQuery: shells
    vs holes via crossing parity from a datum shell), distributed per
    shape; oracle = driver-precomputed literal table."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.nesting_shape_vertices(),
        columns=["shape_id", "which", "vtx_idx", "x", "y", "z"],
    )
    return MO.shape_nesting_groups(spark.createDataFrame(pdf))


def q_buffer_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full S2BufferOperation surface, distributed per (case, mode):
    grow (nation loops + the concave family: fractal stars, a
    hole-pinching courtyard, a merging dumbbell), shrink (negative
    radius / contraction via the complement walk), polyline (two-sided
    round-cap stadium), point (disc), and multi-layer union (loop +
    shifted copy through one winding walk).  Correctness is carried
    by the oracle gate plus the golden tests, which run every
    constructive path with the worker-side Monte-Carlo validation
    enabled (tests/test_buffer_surface.py; the product query runs
    check=False — ~4x cheaper).  The oracle's n_ring/area columns are
    a driver recompute through the same kernels (determinism check);
    its n_probe/n_probe_in columns are INDEPENDENT — deterministic
    probes classified by the pure within-distance predicate, which
    the query must reproduce by parity over the rings it emits
    (kernels/buffer.probe_gate; tests/test_buffer_probe_gate.py
    proves wrong-radius geometry fails the column)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.buffer_case_vertices(),
        columns=["case_id", "mode", "which", "vtx_idx", "x", "y", "z"],
    )
    return MO.buffer_shapes(
        spark.createDataFrame(pdf),
        LO.BUFFER_RADIUS,
        LO.BUFFER_SHRINK_RADIUS,
    )


def q_loop_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-loop area/perimeter/curvature/centroid via grouped Arrow
    kernel (order-dependent sums; no SQL oracle — gated by golden
    pytest cases instead)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import measures_op as MO

    loops = _nation_loops(spark, sf_dir)
    return MO.loop_measures(MO.loops_vertex_df(spark, loops))


def q_doc_dedup_exact(spark, sf_dir):
    """Exact-dedup groups + the END-TO-END curation composition
    (jobs/curate_corpus.py's filter -> exact dedup -> LSH near-dedup
    stages as per-stage survivor sets with md5 fingerprints),
    stage-tagged under one (stage, doc_id, fp, n) shape — the
    curation pipeline's driver-gate row."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import textops as TX

    docs = _docs(spark, sf_dir)
    groups = TX.dedup_exact(docs).select(
        F.lit("group").alias("stage"),
        F.col("keep_id").alias("doc_id"),
        "fp",
        F.col("n_docs").alias("n"),
    )
    curate = TX.curate_survivors(docs).select(
        "stage", "doc_id", "fp", F.lit(1).cast("long").alias("n")
    )
    return groups.unionByName(curate)


def q_doc_near_dup(spark, sf_dir):
    _ensure_pkg(spark)
    from s2geometry_spark.operators import textops as TX
    return TX.near_dup_pairs(_docs(spark, sf_dir))


def q_embed_cosine_topk(spark, sf_dir):
    _ensure_pkg(spark)
    from s2geometry_spark.operators import similarity as SIM
    return SIM.cosine_topk(_emb(spark, sf_dir), EMBED_K)


def q_embed_ann_lsh(spark, sf_dir):
    _ensure_pkg(spark)
    from s2geometry_spark.operators import similarity as SIM
    return SIM.ann_lsh_topk(_emb(spark, sf_dir), EMBED_K)


def q_embed_ann_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN: deterministic spherical k-means lists
    trained on a bounded sample, probe + exact rerank."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import similarity as SIM
    return SIM.ann_ivf_topk(_emb(spark, sf_dir), EMBED_K, sf_dir)


def q_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup grouping (LSH candidates -> exact
    cosine threshold -> min-root fold)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import similarity as SIM
    return SIM.embed_near_dup(_emb(spark, sf_dir), EMBED_DUP_TAU)


def q_image_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic image+caption table (BASELINE input_hint schema) ->
    geotag -> leaf cell -> tile histogram.  Payload decode is binary
    (PNG codec), so this is a rows-only check (no SQL oracle)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import mosaic as M
    from s2geometry_spark.sources import images as IMG

    imgs = IMG.geo_table(spark, N_IMAGES)  # payload-free scan
    tiled = M.with_tiles(imgs, IMAGE_TILE_LEVEL)
    return tiled.groupBy("tile_id").agg(F.count(F.lit(1)).alias("n"))


def q_tile_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile mosaic rasters (decode + compose + re-encode in Arrow
    batches) with mean-color stats.  The full mosaic (including the PNG
    raster) is still composed; the correctness projection keeps the
    scalar columns, which the SQL oracle recomputes from independent
    integer pixel sums + the recursive-CTE Hilbert tile derivation."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import mosaic as M
    from s2geometry_spark.sources import images as IMG

    imgs = IMG.image_table(spark, N_IMAGES)
    tiled = M.with_tiles(imgs, IMAGE_TILE_LEVEL)
    return M.tile_mosaics(tiled).select(
        "tile_id", "n_images", "mean_r", "mean_g", "mean_b"
    )


def q_tile_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector: tile extents projected (Plate Carree) and
    tessellated back to geodesic rings.  Rows-only check."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import mosaic as M
    from s2geometry_spark.sources import images as IMG

    imgs = IMG.geo_table(spark, N_IMAGES)  # payload-free scan
    tiled = M.with_tiles(imgs, IMAGE_TILE_LEVEL)
    return M.tile_extents(tiled.select("tile_id").distinct())


# ---------------------------------------------------------------------
# Consolidated queries (round 4): the driver's correctness gate checks
# the first 50 registry entries, so same-grain queries are column-
# joined and same-schema plan variants are unioned under a
# discriminator column — every component family keeps a driver-gated
# oracle while the registry fits the gate window.
# ---------------------------------------------------------------------

def q_cellid_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaf encode + hierarchy bit ops + token codec, one per-key row
    (consolidates s2_cellid_leaf / s2_cell_hierarchy / s2_cell_token)."""
    _ensure_pkg(spark)
    from s2geometry_spark.functions import sparkfns as S
    from s2geometry_spark.operators import tile as T

    df = T.assign_cellids(_orders_points(spark, sf_dir))
    return df.select(
        "key",
        "cell_id",
        S.cell_parent(F.col("cell_id"), 4).alias("parent4"),
        S.cell_parent(F.col("cell_id"), 16).alias("parent16"),
        S.cell_range_min(F.col("cell_id"), 12).alias("rmin12"),
        S.cell_range_max(F.col("cell_id"), 12).alias("rmax12"),
        S.cell_bias(F.col("cell_id")).alias("biased"),
        S.cell_token(S.cell_parent(F.col("cell_id"), 12)).alias("token12"),
    )


def q_pip_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join forms, side-tagged (consolidates s2_pip_semi /
    s2_pip_anti; oracles stay the independent EXISTS/EXCEPT SQL)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import spatial_join as SJ
    from s2geometry_spark.operators import tile as T

    # both arms consume the same encoded point table — encode once
    pts = T.assign_cellids(_orders_points(spark, sf_dir)).localCheckpoint()
    caps = _nation_caps(spark, sf_dir)
    semi = SJ.point_in_cap_semi(spark, pts, caps).select(
        F.lit("in").alias("side"), "key"
    )
    anti = SJ.point_in_cap_semi(spark, pts, caps, anti=True).select(
        F.lit("out").alias("side"), "key"
    )
    return semi.unionByName(anti)


def q_pip_cap_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four retrieval plans for the point-in-cap join — covering-term
    equi-join, S2CellIndex leaf-range join, S2RegionTermIndexer string
    terms, and the labeled (cell_id, label) range sweep — unioned under
    a `via` discriminator (consolidates s2_pip_cap_join / s2_range_join
    / s2_term_index_join / s2_cell_index_labels)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import spatial_join as SJ
    from s2geometry_spark.operators import term_join as TJ
    from s2geometry_spark.operators import tile as T

    # four arms consume the same encoded point table; materialize the
    # Arrow encode once instead of re-running it per union branch (a
    # cluster job would checkpoint the stage; plans/checkpoint.py)
    pts = T.assign_cellids(_orders_points(spark, sf_dir)).localCheckpoint()
    caps = _nation_caps(spark, sf_dir)

    def tag(df: DataFrame, via: str) -> DataFrame:
        return df.select(F.lit(via).alias("via"), "key", "region_id")

    cov = tag(SJ.point_in_cap_join(spark, pts, caps), "cover")
    rng = tag(SJ.point_in_cap_range_join(spark, pts, caps), "range")
    term = tag(
        TJ.term_index_cap_join(
            spark, pts.where(F.col("key") % 5 == 0), caps
        ),
        "term",
    )
    lrange = tag(
        SJ.label_range_join(spark, pts, _cap_cover_entries()).select(
            "key", F.col("label").alias("region_id")
        ),
        "lrange",
    )
    return cov.unionByName(rng).unionByName(term).unionByName(lrange)


def q_pip_refine_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact PIP refines — single-loop crossing parity, polygon-
    with-holes winding parity, and the distributed shape-index refine —
    unioned under `via` (consolidates s2_pip_loop_join /
    s2_pip_polygon_join / s2_pip_index_join)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import spatial_join as SJ
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import regions_src as R

    def tag(df: DataFrame, via: str) -> DataFrame:
        return df.select(F.lit(via).alias("via"), "key", "region_id")

    # the loop and polygon arms share the orders point table —
    # materialize its Arrow encode once (shapeindex probes customers)
    pts = T.assign_cellids(_orders_points(spark, sf_dir)).localCheckpoint()
    loop_arm = SJ.point_in_loop_join(spark, pts, _nation_loops(spark, sf_dir))
    poly_arm = SJ.point_in_loop_join(
        spark, pts, R.synthetic_polygons(range(25))
    )
    return (
        tag(loop_arm, "loop")
        .unionByName(tag(poly_arm, "polygon"))
        .unionByName(tag(q_pip_index_join(spark, sf_dir), "shapeindex"))
    )


def q_knn_supplier_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k nearest + k furthest supplier points per order point through
    the same ring-expansion machinery, side-tagged (consolidates
    s2_knn_supplier / s2_furthest_supplier).  The two arms share ONE
    materialized Arrow encode of each input (the furthest arm re-
    encodes the antipodal index internally)."""
    _ensure_pkg(spark)
    import pyarrow.parquet as pq

    from s2geometry_spark.operators import knn as KNN
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import points as P

    q = T.assign_cellids(_orders_points(spark, sf_dir)).localCheckpoint()
    sup = _read(spark, sf_dir, "supplier")
    idx = T.assign_cellids(
        P.with_xyz(sup.select(F.col("s_suppkey").alias("key")))
    ).localCheckpoint()
    n_idx = pq.ParquetFile(f"{sf_dir}/supplier.parquet").metadata.num_rows
    near = KNN.knn_join(spark, q, idx, KNN_K, index_count=n_idx).select(
        F.lit("near").alias("side"), "key", "neighbor_key", "dist2", "rn"
    )
    far = KNN.furthest_join(
        spark, q, idx, KNN_K, index_count=n_idx
    ).select(
        F.lit("far").alias("side"), "key", "neighbor_key", "dist2", "rn"
    )
    # bounded option arm: a deterministic 1/8 slice of the query side
    # (key % 8 == 0, same predicate in the oracle SQL).  The arm exists
    # to drive the Options.MaxDistance short-circuit path end-to-end;
    # the near arm above already measures the full-scale ring machinery
    # on every query, so running the option arm over all queries would
    # double the family's bench cost to re-prove the same scan.
    bounded = KNN.knn_join(
        spark,
        q.where(F.col("key") % 8 == 0),
        idx,
        KNN_K,
        index_count=n_idx,
        max_distance2=KNN_BOUND2,
    ).select(
        F.lit("bounded").alias("side"), "key", "neighbor_key", "dist2", "rn"
    )
    return near.unionByName(far).unionByName(bounded)


EDGE_INDEX_LEVEL = 7


def q_polyline_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest + furthest polyline per order point, side-tagged
    (consolidates s2_closest_polyline / s2_furthest_polyline), plus the
    DISTRIBUTED closest-edge arm (side='dclosest'): the same answers
    through the cell-keyed edge index + ring expansion
    (knn.closest_edge_join) — the fact-scale path where the edge table
    never broadcasts.  Its oracle rows are the closest arm's SQL
    re-tagged, so the gate proves distributed == broadcast == DuckDB."""
    closest = q_closest_polyline(spark, sf_dir).select(
        F.lit("closest").alias("side"), "key", "line_id", "dist2"
    )
    furthest = q_furthest_polyline(spark, sf_dir).select(
        F.lit("furthest").alias("side"), "key", "line_id", "dist2"
    )
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.operators import knn as KNN
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import regions_src as R

    pts = T.assign_cellids(_orders_points(spark, sf_dir))
    edges = spark.createDataFrame(
        pd.DataFrame(
            [
                (lid, eid, a[0], a[1], a[2], b[0], b[1], b[2])
                for lid, eid, a, b in R.polyline_edges(range(25))
            ],
            columns=[
                "line_id", "edge_idx", "ax", "ay", "az", "bx", "by", "bz",
            ],
        )
    )
    idx = KNN.edge_covering_index(edges, EDGE_INDEX_LEVEL)
    dclosest = (
        KNN.closest_edge_join(
            spark, pts, idx, index_level=EDGE_INDEX_LEVEL, k=1
        )
        .where(F.col("rn") == 1)
        .select(F.lit("dclosest").alias("side"), "key", "line_id", "dist2")
    )
    return closest.unionByName(furthest).unionByName(dclosest)


def q_polyline_measures_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-polyline measures + conservative S2LatLngRectBounder bounds,
    column-joined on line_id over the same vertex table (consolidates
    s2_polyline_measures / s2_rect_bounder)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.polyline_measure_vertices(),
        columns=["line_id", "vtx_idx", "x", "y", "z"],
    )
    df = spark.createDataFrame(pdf)
    return MO.polyline_measures(df).join(MO.rect_bounds(df), "line_id")


def q_polyline_pair_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW alignment (exact + windowed) and Intersects/NearlyCovers/
    Subsample relations over the same deterministic line pairs, joined
    on line_id (consolidates s2_dtw_alignment / s2_polyline_relations)."""
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import measures_op as MO

    pdf = pd.DataFrame(
        LO.dtw_pair_vertices(),
        columns=["line_id", "which", "vtx_idx", "x", "y", "z"],
    )
    df = spark.createDataFrame(pdf)
    return MO.dtw_align_pairs(df).join(MO.polyline_relations(df), "line_id")


def q_cell_distance_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell↔cell min/max distances + uv geometry (bounds, expansion,
    MaximumTile) + cell / cell-union areas (Average/Approx/ExactArea,
    LeafCellsCovered — the previously pytest-only SURVEY §2.5 areas
    row) on the same sampled key set, column-joined (consolidates
    s2_cell_distance / s2_cell_geometry / the areas arm)."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import cell_dist_op as CD

    dist = q_s2_cell_distance(spark, sf_dir)
    areas = CD.cell_pair_areas(dist.select("key", "cell_a", "cell_b"))
    return dist.join(q_s2_cell_geometry(spark, sf_dir), "key").join(
        areas, "key"
    )


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis profile: token/quality stats,
    language id, exact+min fingerprints, simhash — one wide row per
    doc (consolidates doc_token_stats / doc_lang_id / doc_fingerprints
    / doc_simhash) in a SINGLE projection: one pass over the text,
    zero joins/shuffles."""
    _ensure_pkg(spark)
    from s2geometry_spark.operators import textops as TX

    return TX.doc_profile(_docs(spark, sf_dir))


def q_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile histogram + raster->vector tile extents joined on tile_id
    (consolidates s2_image_tile_counts / s2_tile_extents)."""
    return q_image_tile_counts(spark, sf_dir).join(
        q_tile_extents(spark, sf_dir), "tile_id"
    )


def q_boolean_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise boolean ops + N-way winding operations, family-tagged
    (consolidates s2_region_boolean / s2_winding_groups)."""
    pairs = q_region_boolean(spark, sf_dir).select(
        F.lit("pair").alias("family"),
        F.col("pair_id").alias("case_id"),
        "op",
        "n_rings",
        "area",
    )
    winding = q_winding_groups(spark, sf_dir).select(
        F.lit("winding").alias("family"),
        F.col("group_id").alias("case_id"),
        F.col("rule").alias("op"),
        "n_rings",
        "area",
    )
    return pairs.unionByName(winding)


def q_builder_graph_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2Builder graph assembly + snap/simplify_edge_chains builder +
    the builder-util families (output layers, InitOriented,
    GetSnappedWindingDelta, ClosedSetNormalizer,
    FindPolygonDegeneracies, LaxPolygonLayer modes), family-tagged
    under a common (case_id, sub_id, mode, sig, n) shape (consolidates
    s2_graph_assembly / s2_builder_simplify; the util arms gate the
    previously pytest-only rows of SURVEY §2.7)."""
    graph = q_graph_assembly(spark, sf_dir).select(
        F.lit("graph").alias("family"),
        "case_id",
        F.col("chain_idx").alias("sub_id"),
        "mode",
        F.col("chain_sig").alias("sig"),
        F.col("n_edges").alias("n"),
    )
    simp = q_builder_simplify(spark, sf_dir).select(
        F.lit("simplify").alias("family"),
        "case_id",
        F.col("layer_id").alias("sub_id"),
        F.lit("simplify").alias("mode"),
        F.col("verts").alias("sig"),
        F.col("n_vertices").alias("n"),
    )
    _ensure_pkg(spark)
    import pandas as pd

    from s2geometry_spark.operators import builder_util_op as BU

    case_pdf = pd.DataFrame(
        BU.builder_util_cases(), columns=["family", "case_id", "payload"]
    )
    util = BU.builder_util_rows(spark.createDataFrame(case_pdf)).select(
        "family",
        F.col("case_id").cast(graph.schema["case_id"].dataType),
        F.col("sub_id").cast(graph.schema["sub_id"].dataType),
        "mode",
        "sig",
        F.col("n").cast(graph.schema["n"].dataType),
    )
    return graph.unionByName(simp).unionByName(util)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_tile_assign(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry, risk-first: never-driver-verified queries lead, then
    the families only green in r02, then the consolidated families,
    then the long-stable r03-green queries.  The driver's correctness
    gate checks the first 50 entries; the registry holds <= 50 so
    EVERY query gets a CORRECTNESS row each round."""
    return {
        # --- never driver-verified before round 4 ---
        "s2_shape_nesting": q_shape_nesting,
        "audio_features": q_audio_features,
        "video_frame_stats": q_video_frame_stats,
        "embed_near_dup": q_embed_near_dup,
        "embed_ann_ivf": q_embed_ann_ivf,
        # --- new in round 4 ---
        "s2_closest_polygon": q_closest_polygon,
        "s2_near_polyline_join": q_near_polyline_join,
        # --- green in r02 only (outside r03's window) ---
        "s2_region_boolean": q_boolean_ops,
        "s2_loop_measures": q_loop_measures,
        "s2_polyline_measures": q_polyline_measures_bounds,
        "s2_polyline_pair_ops": q_polyline_pair_ops,
        "s2_buffer_loops": q_buffer_loops,
        "doc_profile": q_doc_profile,
        "doc_dedup_exact": q_doc_dedup_exact,
        "doc_near_dup": q_doc_near_dup,
        "embed_cosine_topk": q_embed_cosine_topk,
        "embed_ann_lsh": q_embed_ann_lsh,
        # --- consolidated families (each arm r03-green standalone) ---
        "s2_builder_graph_ops": q_builder_graph_ops,
        "s2_cellid_props": q_cellid_props,
        "s2_pip_cap_family": q_pip_cap_family,
        "s2_pip_refine_family": q_pip_refine_family,
        "s2_pip_semi_anti": q_pip_semi_anti,
        "s2_knn_supplier": q_knn_supplier_family,
        "s2_polyline_proximity": q_polyline_proximity,
        "s2_cell_distance_geometry": q_cell_distance_geometry,
        "s2_image_tiles": q_image_tiles,
        # --- stable r03-green queries ---
        "s2_tile_assign": q_tile_assign,
        "s2_cellid_nav": q_cellid_nav,
        "s2_cellunion_ops": q_cellunion_ops,
        "s2_covering": q_s2_covering,
        "s2_closest_cell": q_s2_closest_cell,
        "s2_predicates": q_s2_predicates,
        "s2_loop_relations": q_s2_loop_relations,
        "s2_edgeclip": q_s2_edgeclip,
        "s2_earth_metrics": q_s2_earth_metrics,
        "s2_textformat": q_s2_textformat,
        "s2_triangle_measures": q_s2_triangle_measures,
        "s2_polygon_area": q_s2_polygon_area,
        "img_near_dup": q_img_near_dup,
        "s2_hausdorff_nation": q_hausdorff_nation,
        "s2_crossing_edges": q_crossing_edges,
        "s2_convex_hull_tile": q_convex_hull_tile,
        "s2_polyline_simplify": q_polyline_simplify,
        "s2_shape_measures": q_shape_measures,
        "s2_polygon_boundaries": q_polygon_boundaries,
        "s2_mixed_boolean": q_mixed_boolean,
        "s2_polygon_validate": q_polygon_validate,
        "s2_near_loop_join": q_near_loop_join,
        "s2_tile_mosaic": q_tile_mosaic,
        "img_features": q_image_features,
    }


# ---------------------------------------------------------------------
# Oracles (DuckDB side)
# ---------------------------------------------------------------------

def _cell_index_oracle_sql(base_ctes: str) -> str:
    """Literal disjoint (lo, hi, label) biased leaf ranges (swept on
    the driver from the same index entries) joined against leaf cells
    the DuckDB Hilbert pipeline re-derives independently."""
    import numpy as np

    from s2geometry_spark.kernels import cellid as CI
    from s2geometry_spark.kernels.cell_index import CellIndex

    idx = CellIndex(_cap_cover_entries())
    rows = []
    for lo, hi, labels in idx.range_rows():
        lo_b = int(CI.bias(np.array([lo], dtype=np.uint64))[0])
        hi_b = int(CI.bias(np.array([hi], dtype=np.uint64))[0])
        for lab in labels:
            rows.append(f"({lo_b}, {hi_b}, {lab})")
    ranges = (
        "ranges(lo, hi, label) AS (VALUES " + ", ".join(rows) + ")"
    )
    bias = "xor(cell_id, CAST('-9223372036854775808' AS BIGINT))"
    return (
        base_ctes
        + ", "
        + ranges
        + f"\nSELECT c.key AS key, r.label AS label FROM cells c "
        f"JOIN ranges r ON {bias} BETWEEN r.lo AND r.hi"
    )


def oracle_sql() -> dict[str, str]:
    import os
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)
    from s2geometry_spark.functions import duckdb_oracle as O
    from s2geometry_spark.functions import literal_oracle as LO
    from s2geometry_spark.operators import builder_util_op as BU
    from s2geometry_spark.sources import points as P
    from s2geometry_spark.sources import regions_src as R

    pts = P.xyz_sql_cte("orders", "o_orderkey")
    base = (
        "WITH RECURSIVE "
        + O.lookup_values_sql()
        + ", "
        + pts
        + ", "
        + O.cellid_pipeline_ctes()
    )
    upts = (
        "upts AS (SELECT key, x/r AS ux, y/r AS uy, z/r AS uz FROM "
        "(SELECT key, x, y, z, sqrt(x*x + y*y + z*z) AS r FROM pts))"
    )
    cap_chord = (
        "least((p.ux-c.cx)*(p.ux-c.cx) + (p.uy-c.cy)*(p.uy-c.cy) + "
        "(p.uz-c.cz)*(p.uz-c.cz), 4.0)"
    )
    pip_base = (
        "WITH "
        + pts
        + ", "
        + upts
        + ", "
        + R.caps_sql_cte("nation", "n_nationkey")
        + f" SELECT p.key AS key, c.region_id AS region_id "
        f"FROM upts p CROSS JOIN ucaps c WHERE {cap_chord} <= c.r2"
    )
    # Loop-edge literals for the PIP-loop brute-force oracle: the same
    # driver-computed float64 vertices the Spark join broadcasts (nation
    # is the fixed 25-row TPC-H dim table, keys 0..24 at every SF).
    loops = R.synthetic_loops(range(25))
    pip_loop = O.pip_loop_sql(pts, R.loop_edges_sql_values(loops))

    from s2geometry_spark.operators import similarity as SIM
    from s2geometry_spark.operators import textops as TX
    from s2geometry_spark.operators.knn import knn_oracle_sql
    from s2geometry_spark.operators.spatial_join import (
        near_chord2 as SJ_near_chord2,
    )

    knn_sql = knn_oracle_sql(
        P.xyz_sql_cte("orders", "o_orderkey", name="qpts"),
        P.xyz_sql_cte("supplier", "s_suppkey", name="ipts"),
        KNN_K,
    )
    # bounded arm runs on the deterministic 1/8 query slice the Spark
    # side uses (see q_knn_supplier_family)
    knn_bounded_sql = knn_oracle_sql(
        P.xyz_sql_cte(
            "(SELECT * FROM orders WHERE (o_orderkey % 8) = 0)",
            "o_orderkey",
            name="qpts",
        ),
        P.xyz_sql_cte("supplier", "s_suppkey", name="ipts"),
        KNN_K,
        max_distance2=KNN_BOUND2,
    )
    from s2geometry_spark.operators.knn import (
        furthest_oracle_sql,
        furthest_polyline_oracle_sql,
    )

    furthest_sql = furthest_oracle_sql(
        P.xyz_sql_cte("orders", "o_orderkey", name="qpts"),
        P.xyz_sql_cte("supplier", "s_suppkey", name="ipts"),
        KNN_K,
    )
    upts_anti = (
        "upts AS (SELECT key, (-(x))/r AS ux, (-(y))/r AS uy, "
        "(-(z))/r AS uz FROM "
        "(SELECT key, x, y, z, sqrt(x*x + y*y + z*z) AS r FROM pts))"
    )
    furthest_poly_sql = furthest_polyline_oracle_sql(
        pts + ", " + upts_anti,
        R.polyline_edges_sql_values(R.polyline_edges(range(25)), "loop_edges"),
    )
    from s2geometry_spark.operators.knn import (
        hausdorff_undirected_oracle_sql,
    )

    from s2geometry_spark.operators.knn import (
        closest_polygon_oracle_sql,
        closest_polyline_oracle_sql,
        near_polyline_oracle_sql,
    )

    closest_poly_sql = closest_polyline_oracle_sql(
        pts + ", " + upts,
        R.polyline_edges_sql_values(R.polyline_edges(range(25)), "loop_edges"),
    )
    from s2geometry_spark.operators import crossing as CR

    crossing_sql = CR.crossing_pairs_sql(
        R.polyline_edges_sql_values(R.polyline_edges(range(25), 0), "ea"),
        R.polyline_edges_sql_values(R.polyline_edges(range(25), 2), "eb"),
    )
    hausdorff_sql = hausdorff_undirected_oracle_sql(
        P.xyz_grp_sql_cte("customer", "c_custkey", "c_nationkey", name="apts"),
        P.xyz_grp_sql_cte("supplier", "s_suppkey", "s_nationkey", name="bpts"),
    )
    # component SQLs that feed the consolidated entries
    rmin_off = (1 << (2 * (30 - 12))) - 1
    cellid_props_sql = (
        base
        + "\nSELECT key, cell_id, "
        + O.parent_sql("cell_id", 4)
        + " AS parent4, "
        + O.parent_sql("cell_id", 16)
        + " AS parent16, "
        + O.parent_sql("cell_id", 12)
        + f" - {rmin_off} AS rmin12, "
        + O.parent_sql("cell_id", 12)
        + f" + {rmin_off} AS rmax12, "
        + "xor(cell_id, CAST('-9223372036854775808' AS BIGINT)) AS biased, "
        + O.token_sql(O.parent_sql("cell_id", 12))
        + " AS token12 FROM cells"
    )
    pip_semi_sql = "SELECT DISTINCT key FROM (" + pip_base + ") t"
    pip_anti_sql = (
        "WITH "
        + P.xyz_sql_cte("orders", "o_orderkey", name="allpts")
        + " SELECT key FROM allpts EXCEPT SELECT key FROM ("
        + pip_base
        + ") t"
    )
    pip_polygon_sql = O.pip_loop_sql(
        pts, R.loop_edges_sql_values(R.synthetic_polygons(range(25)))
    )
    # shape-index join must equal the brute-force all-edges result
    pip_index_sql = O.pip_loop_sql(
        P.xyz_sql_cte("customer", "c_custkey"),
        R.loop_edges_sql_values(_fractal_loops_cached()),
    )
    return {
        # --- never driver-verified before round 4 ---
        "s2_shape_nesting": LO.shape_nesting_sql(),
        "audio_features": LO.audio_features_sql(),
        "video_frame_stats": LO.video_frame_stats_sql(),
        "embed_near_dup": SIM.embed_near_dup_sql(EMBED_DUP_TAU),
        "embed_ann_ivf": SIM.ann_ivf_topk_sql(EMBED_K, LO.oracle_sf_dir()),
        # --- green in r02 only (outside r03's window) ---
        "s2_region_boolean": (
            "SELECT 'pair' AS family, pair_id AS case_id, op, n_rings,"
            " area FROM (" + LO.region_boolean_sql() + ") rb"
            " UNION ALL "
            "SELECT 'winding' AS family, group_id AS case_id,"
            " rule AS op, n_rings, area FROM ("
            + LO.winding_groups_sql()
            + ") wg"
        ),
        "s2_loop_measures": LO.loop_measures_sql(),
        "s2_polyline_measures": (
            "SELECT * FROM ("
            + LO.polyline_measures_sql()
            + ") pm JOIN ("
            + LO.rect_bounds_sql()
            + ") rb USING (line_id)"
        ),
        "s2_polyline_pair_ops": (
            "SELECT * FROM ("
            + LO.dtw_alignment_sql()
            + ") da JOIN ("
            + LO.polyline_relations_sql()
            + ") pr USING (line_id)"
        ),
        "s2_buffer_loops": LO.buffer_cases_sql(),
        "doc_profile": (
            "SELECT * FROM ("
            + TX.token_stats_sql()
            + ") ts JOIN ("
            + TX.lang_id_sql()
            + ") li USING (doc_id) JOIN ("
            + TX.fingerprints_sql()
            + ") fp USING (doc_id) JOIN ("
            + TX.simhash_sql()
            + ") sh USING (doc_id)"
        ),
        "doc_dedup_exact": (
            "SELECT 'group' AS stage, keep_id AS doc_id, fp,"
            " n_docs AS n FROM ("
            + TX.dedup_exact_sql()
            + ") dg UNION ALL SELECT stage, doc_id, fp,"
            " CAST(1 AS BIGINT) AS n FROM ("
            + TX.curate_survivors_sql()
            + ") cs"
        ),
        "doc_near_dup": TX.near_dup_pairs_sql(),
        "embed_cosine_topk": SIM.cosine_topk_sql(EMBED_K),
        "embed_ann_lsh": SIM.ann_lsh_topk_sql(EMBED_K),
        # --- consolidated families ---
        "s2_builder_graph_ops": (
            "SELECT 'graph' AS family, case_id, chain_idx AS sub_id,"
            " mode, chain_sig AS sig, n_edges AS n FROM ("
            + LO.graph_assembly_sql()
            + ") ga UNION ALL "
            "SELECT 'simplify' AS family, case_id, layer_id AS sub_id,"
            " 'simplify' AS mode, verts AS sig, n_vertices AS n FROM ("
            + LO.builder_simplify_sql()
            + ") bs UNION ALL "
            "SELECT family, case_id, sub_id, mode, sig, n FROM ("
            + BU.builder_util_sql()
            + ") bu"
        ),
        "s2_cellid_props": cellid_props_sql,
        "s2_pip_cap_family": (
            "SELECT 'cover' AS via, key, region_id FROM ("
            + pip_base
            + ") c UNION ALL "
            "SELECT 'range' AS via, key, region_id FROM ("
            + pip_base
            + ") r UNION ALL "
            "SELECT 'term' AS via, key, region_id FROM ("
            + pip_base
            + ") t WHERE key % 5 = 0 UNION ALL "
            "SELECT 'lrange' AS via, key, label AS region_id FROM ("
            + _cell_index_oracle_sql(base)
            + ") lr"
        ),
        "s2_pip_refine_family": (
            "SELECT 'loop' AS via, key, region_id FROM ("
            + pip_loop
            + ") l UNION ALL "
            "SELECT 'polygon' AS via, key, region_id FROM ("
            + pip_polygon_sql
            + ") p UNION ALL "
            "SELECT 'shapeindex' AS via, key, region_id FROM ("
            + pip_index_sql
            + ") s"
        ),
        "s2_pip_semi_anti": (
            "SELECT 'in' AS side, key FROM ("
            + pip_semi_sql
            + ") si UNION ALL SELECT 'out' AS side, key FROM ("
            + pip_anti_sql
            + ") sa"
        ),
        "s2_knn_supplier": (
            "SELECT 'near' AS side, * FROM ("
            + knn_sql
            + ") kn UNION ALL SELECT 'far' AS side, * FROM ("
            + furthest_sql
            + ") kf UNION ALL SELECT 'bounded' AS side, * FROM ("
            + knn_bounded_sql
            + ") kb"
        ),
        "s2_polyline_proximity": (
            "SELECT 'closest' AS side, * FROM ("
            + closest_poly_sql
            + ") pc UNION ALL SELECT 'furthest' AS side, * FROM ("
            + furthest_poly_sql
            + ") pf UNION ALL SELECT 'dclosest' AS side, * FROM ("
            + closest_poly_sql
            + ") pd"
        ),
        "s2_cell_distance_geometry": (
            "SELECT * FROM ("
            + LO.cell_pair_distances_sql(LO.oracle_sf_dir())
            + ") cd JOIN ("
            + LO.cell_geometry_sql(LO.oracle_sf_dir())
            + ") cg USING (key) JOIN ("
            + LO.cell_union_areas_sql(LO.oracle_sf_dir())
            + ") ca USING (key)"
        ),
        "s2_image_tiles": (
            "SELECT * FROM ("
            + LO.image_tile_counts_sql(N_IMAGES, IMAGE_TILE_LEVEL)
            + ") tc JOIN ("
            + LO.tile_extents_sql(N_IMAGES, IMAGE_TILE_LEVEL)
            + ") te USING (tile_id)"
        ),
        # --- stable r03-green queries ---
        "s2_tile_assign": (
            base
            + f"\nSELECT {O.parent_sql('cell_id', TILE_LEVEL)} AS tile_id,"
            + " COUNT(*) AS n FROM cells GROUP BY 1"
        ),
        "s2_cellid_nav": O.cellid_nav_sql(base),
        "s2_cellunion_ops": O.cellunion_ops_sql(base),
        # driver-precomputed literal-table oracles (see
        # s2geometry_spark/functions/literal_oracle.py for what each
        # one independently recomputes vs takes as literals)
        "s2_covering": LO.cap_coverings_sql(LO.oracle_sf_dir()),
        "s2_closest_cell": LO.closest_cell_sql(LO.oracle_sf_dir()),
        "s2_predicates": LO.predicates_sql(LO.oracle_sf_dir()),
        "s2_loop_relations": LO.loop_relations_sql(),
        "s2_edgeclip": LO.edgeclip_sql(LO.oracle_sf_dir()),
        "s2_earth_metrics": O.earth_metrics_sql(),
        "s2_textformat": LO.textformat_sql(LO.oracle_sf_dir()),
        "s2_triangle_measures": LO.triangle_measures_sql(LO.oracle_sf_dir()),
        "s2_polygon_area": LO.polygon_areas_sql(),
        "img_near_dup": LO.img_near_dup_sql(N_IMAGES),
        "s2_hausdorff_nation": hausdorff_sql,
        "s2_closest_polygon": closest_polygon_oracle_sql(
            pts, upts, R.loop_edges_sql_values(loops)
        ),
        "s2_crossing_edges": crossing_sql,
        "s2_convex_hull_tile": LO.convex_hull_sql(LO.oracle_sf_dir()),
        "s2_polyline_simplify": LO.polyline_simplify_sql(),
        "s2_shape_measures": LO.shape_measures_sql(),
        "s2_polygon_boundaries": LO.polygon_boundaries_sql(),
        "s2_mixed_boolean": LO.mixed_boolean_sql(),
        "s2_polygon_validate": LO.polygon_validate_sql(),
        "s2_near_loop_join": O.near_loop_sql(
            pts + ", " + upts, R.loop_edges_sql_values(loops), NEAR_RADIUS
        ),
        "s2_near_polyline_join": near_polyline_oracle_sql(
            pts + ", " + upts,
            R.polyline_edges_sql_values(
                R.polyline_edges(range(25)), "loop_edges"
            ),
            SJ_near_chord2(NEAR_RADIUS),
        ),
        "s2_tile_mosaic": LO.tile_mosaic_sql(N_IMAGES, IMAGE_TILE_LEVEL),
        "img_features": LO.img_features_sql(N_IMAGES),
    }
