"""Distributed kNN join: a brute-force scan for small indexes, bounded
cell-ring expansion for the rest.

Re-expresses S2ClosestPointQuery (Query/S2ClosestPointQueryBase.cs,
base algorithm Query/S2ClosestEdgeQueryBase.cs:211-363), including its
size-based choice between scanning every indexed point and descending
the index (S2ClosestEdgeQueryBase.cs:274-298).  ``knn_join`` picks the
arm from the index size:

- brute force (``knn_join_brute``, index <= ``KNN_BRUTE_FORCE_MAX_INDEX``
  points, no ``group_col``): the normalized index is collected once to
  the driver, sorted by key, and every query is answered in one Arrow
  UDF pass that carries the index (``kernels.closest_point``).  No
  join, no shuffle, no eager rounds: a single narrow stage over the
  query side.
- ring expansion (``knn_join_rings``), a bounded loop of Spark joins
  (SURVEY.md §2.4 / §3.3).  Round r: every *unfinished* query joins its
  3x3 cell neighborhood at level L_r against the index side keyed by
  ``parent(leaf, L_r)``; candidates are ranked with a window
  (distance, index_key) — the reference's result ordering
  (S2ClosestEdgeQueryBase.cs:69-120).  A query finishes when its k-th
  squared-chord distance is smaller than the guaranteed-covered radius
  of its ring: any point outside the 3x3 neighborhood is at least one
  cell min-width away (S2Metrics kMinWidth, S2Metrics.cs:75-86).  Each
  following round coarsens the level by one (ring area x4), so the
  loop is bounded by ~L rounds and in practice finishes in 1-2; the
  final fallback (level exhausted, still unfinished) is a cross join of
  the residual queries — a vanishing fraction.

Both arms compute dist2 as ``_dist2``'s ``(dx*dx + dy*dy) + dz*dz`` on
JVM-normalized unit vectors and order results by (dist2, neighbor_key),
so they return identical rows.

Scale notes (ring arm):
- the fact-side never shuffles: the ring explode (x9) feeds a hash
  equi-join on (level, cell); the per-round unfinished set shrinks
  geometrically.
- distance arithmetic is plain JVM column math (whole-stage codegen,
  bit-identical to the DuckDB oracle's SQL); only the neighbor-ring
  expansion is an Arrow pUDF.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..constants import KMIN_WIDTH
from ..functions import sparkfns as S
from ..operators.spatial_join import normalized_cols

MIN_LEVEL_FLOOR = 1  # below this, fall back to cross join


def _chord2_from_radians(radians: float) -> float:
    if radians >= math.pi:
        return 4.0
    s = math.sin(0.5 * radians)
    return 4 * s * s


def _ring_udf(level: int):
    """pUDF: 3x3 neighborhood (cell + 8 edge/vertex neighbors) of the
    level-`level` ancestor, as array<long> (S2CellId.AppendAllNeighbors
    semantics, S2CellId.cs:754-810)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    from ..kernels import cellid as CI

    @pandas_udf(ArrayType(LongType()))
    def _ring(cid: pd.Series) -> pd.Series:
        import numpy as np

        mat = CI.as_i64(CI.ring_neighbors(cid.to_numpy(), level)).copy()
        mat.sort(axis=1)
        keep = np.ones(mat.shape, dtype=bool)
        keep[:, 1:] = mat[:, 1:] != mat[:, :-1]
        return pd.Series(
            [row[k].tolist() for row, k in zip(mat, keep)]
        )

    return _ring


def _dist2(qx, qy, qz, ix, iy, iz):
    """Squared chord length on unit vectors, fixed evaluation order
    (mirrored in the DuckDB oracle)."""
    dx, dy, dz = qx - ix, qy - iy, qz - iz
    return (dx * dx + dy * dy) + dz * dz


def default_seed_level(n_index: int, k: int = 1) -> int:
    """Level whose 3x3 ring almost always terminates round 1: cell
    min-width >= ~2.5x the expected k-th neighbor radius
    (r_k ~= 2*sqrt(k/n) for n quasi-uniform points), so the ring
    guarantee `kth < chord(minWidth)` holds for typical queries."""
    r_k = 2.0 * math.sqrt(max(k, 1) / max(n_index, 1))
    level = KMIN_WIDTH.get_level_for_min_value(r_k)
    return max(MIN_LEVEL_FLOOR, min(level, 30))


def approx_index_count(index: DataFrame, fraction: float = 0.01) -> int:
    """Order-of-magnitude row count from a sampled scan (the seed
    level only needs log-scale accuracy, so a full count() action on
    the fact table is wasted work at cluster scale)."""
    n_sampled = index.sample(fraction=fraction, seed=7).count()
    if n_sampled >= 100:
        return int(n_sampled / fraction)
    return index.count()  # tiny table: exact count is cheap


# Largest index the brute-force arm takes.  Measured on a 4-core host
# (k=3, Q in {10k, 200k} queries, N in {250, 500, 1000, 2000, 4000}
# index points; table in CHANGES.md): the brute arm beat the rings at
# every point, at Q=200k by 6.5x (N=250) to 9.5x (N=4000, 1.8 s vs
# 17.5 s), so the cutoff is the largest N measured.
KNN_BRUTE_FORCE_MAX_INDEX = 4000


def knn_join(
    spark: SparkSession,
    queries: DataFrame,
    index: DataFrame,
    k: int,
    seed_level: int | None = None,
    query_key: str = "key",
    index_key: str = "key",
    max_rounds: int = 8,
    group_col: str | None = None,
    index_count: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_version: str = "v1",
    max_distance2: float | None = None,
    max_error2: float = 0.0,
) -> DataFrame:
    """k nearest index points per query point, by the brute-force scan
    when the index has at most ``KNN_BRUTE_FORCE_MAX_INDEX`` points,
    by ring expansion otherwise (the reference's brute-vs-indexed
    switch, S2ClosestEdgeQueryBase.cs:274-298).

    The size comes from ``index_count`` when given, else from
    ``approx_index_count``.  ``group_col`` searches always take the
    rings.  Both arms return the same rows; see ``knn_join_rings`` for
    the parameters.  The brute arm is exact and runs no rounds, so
    ``seed_level``, ``max_rounds``, ``checkpoint_dir`` and
    ``max_error2`` do not apply to it.
    """
    if group_col is None:
        if index_count is None:
            index_count = approx_index_count(index)
        if index_count <= KNN_BRUTE_FORCE_MAX_INDEX:
            return knn_join_brute(
                queries, index, k, query_key=query_key,
                index_key=index_key, max_distance2=max_distance2,
            )
    return knn_join_rings(
        spark, queries, index, k, seed_level=seed_level,
        query_key=query_key, index_key=index_key, max_rounds=max_rounds,
        group_col=group_col, index_count=index_count,
        checkpoint_dir=checkpoint_dir,
        checkpoint_version=checkpoint_version,
        max_distance2=max_distance2, max_error2=max_error2,
    )


def knn_join_brute(
    queries: DataFrame,
    index: DataFrame,
    k: int,
    query_key: str = "key",
    index_key: str = "key",
    max_distance2: float | None = None,
) -> DataFrame:
    """k nearest index points per query point by scanning the whole
    index: one narrow Arrow UDF pass over the query side, same output
    and row order as ``knn_join_rings``.

    The index is normalized in the JVM (bit-identical to the ring
    arm's values), sorted by key in one partition and collected once;
    ``kernels.closest_point.closest_k`` ranks each Arrow batch against
    it.  Inputs need (key, x, y, z); ``max_distance2`` keeps pairs with
    dist2 <= bound.  Indexes above ``BROADCAST_POINT_BUDGET`` points
    raise: use ``knn_join_rings``.
    """
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import (
        ArrayType, DoubleType, StructField, StructType,
    )

    key_type = index.schema[index_key].dataType
    rows = (
        normalized_cols(index)
        .select(F.col(index_key).alias("ik"), "ux", "uy", "uz")
        .coalesce(1)
        .sortWithinPartitions("ik")
        .limit(BROADCAST_POINT_BUDGET + 1)
        .collect()
    )
    if len(rows) > BROADCAST_POINT_BUDGET:
        raise ValueError(
            f"knn_join_brute: index exceeds the broadcast budget of "
            f"{BROADCAST_POINT_BUDGET} points; use knn_join_rings"
        )
    ik = pa.array([r["ik"] for r in rows], type=to_arrow_type(key_type))
    ix, iy, iz = (
        np.array([r[c] for r in rows], dtype=np.float64)
        for c in ("ux", "uy", "uz")
    )

    @arrow_udf(
        ArrayType(
            StructType(
                [StructField("ik", key_type), StructField("dist2", DoubleType())]
            )
        )
    )
    def _closest(qx: pa.Array, qy: pa.Array, qz: pa.Array) -> pa.Array:
        from ..kernels.closest_point import closest_k

        counts, pos, d2 = closest_k(
            *(c.to_numpy(zero_copy_only=False) for c in (qx, qy, qz)),
            ix, iy, iz, k, max_distance2,
        )
        offsets = np.zeros(len(counts) + 1, dtype=np.int32)
        np.cumsum(counts, out=offsets[1:])
        nb = pa.StructArray.from_arrays(
            [ik.take(pa.array(pos)), pa.array(d2)], names=["ik", "dist2"]
        )
        return pa.ListArray.from_arrays(pa.array(offsets), nb)

    res = normalized_cols(queries).select(
        F.col(query_key).alias("key"),
        F.posexplode(_closest(F.col("ux"), F.col("uy"), F.col("uz"))).alias(
            "pos", "nb"
        ),
    )
    return res.select(
        "key",
        F.col("nb.ik").alias("neighbor_key"),
        F.col("nb.dist2").alias("dist2"),
        (F.col("pos") + 1).cast("long").alias("rn"),
    )


def knn_join_rings(
    spark: SparkSession,
    queries: DataFrame,
    index: DataFrame,
    k: int,
    seed_level: int | None = None,
    query_key: str = "key",
    index_key: str = "key",
    max_rounds: int = 8,
    group_col: str | None = None,
    index_count: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_version: str = "v1",
    max_distance2: float | None = None,
    max_error2: float = 0.0,
) -> DataFrame:
    """k nearest index points per query point by ring expansion.

    Inputs need (key, x, y, z, cell_id) columns.  Returns
    (query_key, neighbor_key, dist2, rn) with rn in [1, k] ordered by
    (dist2, neighbor_key) — the reference's (distance, shape_id) result
    order made deterministic on ties.

    ``max_distance2``: squared-chord distance bound — the reference's
    Options.MaxDistance (S2ClosestEdgeQueryBase.cs:69-120): only
    neighbors with dist2 <= bound are returned ("k nearest within d"),
    a query may yield fewer than k rows, and the search SHORT-CIRCUITS:
    once a round's ring guarantee covers the bound (guarantee >=
    max_distance2), nothing outside the ring can qualify, so every
    remaining query finishes that round instead of coarsening further.

    ``max_error2``: squared-chord error tolerance — the reference's
    Options.MaxError (S2ClosestEdgeQueryBase.cs:69-120): a query may
    finish a round once its k-th candidate distance is within
    ``max_error2`` of the ring guarantee (kth < guarantee +
    max_error2), because any unexamined neighbor sits at dist2 >=
    guarantee and so could improve a reported distance by less than
    the tolerance.  Each reported rank-r distance therefore exceeds
    the true rank-r distance by < max_error2; 0.0 (default) is the
    exact search.  Queries near a ring boundary terminate one round
    earlier instead of paying a 4x-area coarser ring.

    ``group_col``: when set (present on both sides), neighbors are
    searched within the same group only (the per-group closest-point
    composition the kNN-based Hausdorff path uses); the group key joins
    alongside the cell key, so hot groups still spread over cells.

    ``index_count``: pass a known/estimated index size to skip the
    seed-level sampling scan entirely.

    ``checkpoint_dir``: when set, per-round materialization goes
    through durable CheckpointedPipeline stages (plans.checkpoint)
    instead of localCheckpoint — localCheckpoint blocks are lost on
    executor failure mid-query, while checkpointed stages survive
    driver AND executor restarts: a re-run with the same dir and
    ``checkpoint_version`` resumes, skipping completed rounds.  Bump
    ``checkpoint_version`` whenever the input tables change (stage
    fingerprints cannot see data content).
    """
    if seed_level is None:
        if index_count is None:
            index_count = approx_index_count(index)
        seed_level = default_seed_level(index_count, k)

    grp = [F.col(group_col).alias("gg")] if group_col else []
    q = (
        normalized_cols(queries)
        .select(
            F.col(query_key).alias("qk"),
            F.col("ux").alias("qux"), F.col("uy").alias("quy"),
            F.col("uz").alias("quz"), F.col("cell_id").alias("qcell"),
            *grp,
        )
    )
    idx = (
        normalized_cols(index)
        .select(
            F.col(index_key).alias("ik"),
            F.col("ux").alias("iux"), F.col("uy").alias("iuy"),
            F.col("uz").alias("iuz"), F.col("cell_id").alias("icell_leaf"),
            *grp,
        )
    )

    # Materialize both sides once: the rounds below drive several
    # actions each (join, guarantee agg, isEmpty), and without a
    # checkpoint every action would re-run the upstream leaf-encode
    # pUDF over the full fact table.
    from ..plans.checkpoint import CheckpointedPipeline, StageResult

    cp = (
        CheckpointedPipeline(spark, checkpoint_dir)
        if checkpoint_dir
        else None
    )
    base_params = {
        "version": checkpoint_version,
        "k": k,
        "seed_level": seed_level,
        "group_col": group_col or "",
        "max_distance2": repr(max_distance2),
        "max_error2": repr(max_error2),
    }

    def mat(name: str, fn, inputs=(), params=None) -> StageResult:
        if cp is not None:
            return cp.stage(
                name, fn, inputs=inputs,
                params={**base_params, **(params or {})},
            )
        df = fn(*[r.df for r in inputs])
        return StageResult(name, df.localCheckpoint(), "", False, 0.0, -1)

    def is_empty(st: StageResult) -> bool:
        # resumed checkpoint stages know their row count from _meta
        return st.rows == 0 if st.rows >= 0 else st.df.isEmpty()

    q_st = mat("knn_q", lambda: q)
    idx_st = mat("knn_idx", lambda: idx)
    q, idx = q_st.df, idx_st.df

    # Per round: rank this round's candidates, emit final top-k for
    # queries whose kth distance is inside the ring guarantee, and loop
    # only the unfinished remainder at a coarser level.  A coarser 3x3
    # ring is a superset of a finer one, so superseded candidates are
    # simply discarded — no cross-round dedup or accumulation.
    unfinished_st = q_st
    finished_parts: list[DataFrame] = []
    level = seed_level
    gcols = ["gg"] if group_col else []
    w = Window.partitionBy("qk", *gcols).orderBy("dist2", "ik")

    def build_ranked(level: int):
        def fn(unfinished: DataFrame, idx: DataFrame) -> DataFrame:
            ring = _ring_udf(level)
            probe = unfinished.withColumn(
                "jcell", F.explode(ring(F.col("qcell")))
            )
            iside = idx.withColumn(
                "jcell", S.cell_parent(F.col("icell_leaf"), level)
            )
            cand = (
                probe.join(iside, on=["jcell", *gcols], how="inner")
                .select(
                    "qk", *gcols, "ik",
                    _dist2(
                        F.col("qux"), F.col("quy"), F.col("quz"),
                        F.col("iux"), F.col("iuy"), F.col("iuz"),
                    ).alias("dist2"),
                )
            )
            if max_distance2 is not None:
                cand = cand.where(F.col("dist2") <= F.lit(max_distance2))
            return (
                cand.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k)
            )

        return fn

    def done_queries(ranked: DataFrame, guarantee: float) -> DataFrame:
        # max_error2 relaxes the finish line (Options.MaxError): any
        # unexamined neighbor has dist2 >= guarantee, so a query whose
        # kth is within the tolerance of the guarantee cannot improve
        # any reported distance by max_error2 or more
        return (
            ranked.groupBy("qk", *gcols)
            .agg(F.max("dist2").alias("kth"), F.count(F.lit(1)).alias("nk"))
            .where(
                (F.col("nk") >= k)
                & (F.col("kth") < F.lit(guarantee + max_error2))
            )
            .select("qk", *gcols)
        )

    bound_covered = False
    for rnd in range(max_rounds):
        if level < MIN_LEVEL_FLOOR or is_empty(unfinished_st):
            break
        # <= k rows per query; reused twice below
        ranked_st = mat(
            f"knn_r{rnd}_ranked",
            build_ranked(level),
            inputs=(unfinished_st, idx_st),
            params={"level": level},
        )
        guarantee = _chord2_from_radians(KMIN_WIDTH.get_value(level))
        if max_distance2 is not None and guarantee > max_distance2:
            # the ring already covers the whole search radius: a point
            # outside the ring has dist2 >= guarantee > bound, so
            # nothing unexamined can pass the INCLUSIVE dist2 <= bound
            # filter (at guarantee == bound an unexamined point AT the
            # bound would still qualify — hence strict >) and every
            # remaining query is complete with its (<= k) candidates
            finished_parts.append(ranked_st.df)
            bound_covered = True
            break
        # one row per finished query: materialized ONCE and fed to both
        # the semi-join (emit finals) and the anti-join (loop the rest)
        # — recomputing done_queries in each consumer would run its
        # groupBy shuffle twice per round
        done_st = mat(
            f"knn_r{rnd}_done",
            lambda ranked: done_queries(ranked, guarantee),
            inputs=(ranked_st,),
            params={"level": level},
        )
        finished_parts.append(
            ranked_st.df.join(done_st.df, on=["qk", *gcols], how="left_semi")
        )
        unfinished_st = mat(
            f"knn_r{rnd}_unfinished",
            lambda unfinished, done: unfinished.join(
                done, on=["qk", *gcols], how="left_anti"
            ),
            inputs=(unfinished_st, done_st),
            params={"level": level},
        )
        # coarsen by one level: ring area x4 per round, and a query
        # whose kth distance just missed guarantee(L) almost always
        # satisfies guarantee(L-1) = 2x the width bound.
        level -= 1

    if not bound_covered and not is_empty(unfinished_st):
        # residual cross join (exact; tiny fraction by construction)
        unfinished = unfinished_st.df
        residual = (
            unfinished.join(idx, on=gcols, how="inner")
            if group_col
            else unfinished.crossJoin(idx)
        )
        cand = residual.select(
            "qk", *gcols, "ik",
            _dist2(
                F.col("qux"), F.col("quy"), F.col("quz"),
                F.col("iux"), F.col("iuy"), F.col("iuz"),
            ).alias("dist2"),
        )
        if max_distance2 is not None:
            cand = cand.where(F.col("dist2") <= F.lit(max_distance2))
        ranked = (
            cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
        )
        finished_parts.append(ranked)

    if not finished_parts:
        # empty query side: no round ever ran — return a typed empty
        # result instead of crashing on finished_parts[0]
        finished_parts.append(
            q.limit(0)
            .crossJoin(idx.limit(0).select("ik"))
            .select(
                "qk", *gcols, "ik",
                F.lit(0.0).alias("dist2"),
                F.lit(1).alias("rn"),
            )
        )
    result = finished_parts[0]
    for part in finished_parts[1:]:
        result = result.unionByName(part)
    out_grp = (
        [F.col("gg").alias(group_col)] if group_col else []
    )
    return result.select(
        F.col("qk").alias("key"),
        *out_grp,
        F.col("ik").alias("neighbor_key"),
        "dist2",
        F.col("rn").cast("long").alias("rn"),
    )


def hausdorff_directed_knn(
    spark: SparkSession,
    a_df: DataFrame,
    b_df: DataFrame,
    group_col: str = "grp",
) -> DataFrame:
    """Directed Hausdorff via per-group closest-point composition:
    knn_join(k=1) restricted to the group, then max per group — the
    scale path for large groups (the broadcast form below is A x B per
    group, quadratic).  Result values are identical: both take max over
    a of the exact min squared-chord distance."""
    from . import tile as T

    if "cell_id" not in a_df.columns:
        a_df = T.assign_cellids(a_df)
    if "cell_id" not in b_df.columns:
        b_df = T.assign_cellids(b_df)
    nn = knn_join(spark, a_df, b_df, k=1, group_col=group_col)
    return (
        nn.groupBy(group_col)
        .agg(F.max("dist2").alias("hausdorff2"))
        .select(group_col, "hausdorff2")
    )


HAUSDORFF_KNN_THRESHOLD = 20_000


def hausdorff_directed(
    a_df: DataFrame,
    b_df: DataFrame,
    group_col: str = "grp",
    spark: SparkSession | None = None,
    knn_threshold: int = HAUSDORFF_KNN_THRESHOLD,
    b_count: int | None = None,
) -> DataFrame:
    """Directed Hausdorff distance per group: max over a in A of
    min over b in B of dist(a, b), as squared chord
    (S2HausdorffDistanceQuery.cs:63-100 composition: closest-point
    query per source point + max aggregate).

    Inputs carry (key, x, y, z, <group_col>).  Size-based plan switch
    (the brute-vs-indexed cost switch of S2ClosestEdgeQueryBase): small
    B sides broadcast and evaluate all pairs per group; when the B side
    exceeds ``knn_threshold`` rows (and ``spark`` is provided), the
    per-group kNN composition above takes over — same values, no
    per-group quadratic blowup.
    """
    if spark is not None:
        # the switch needs order-of-magnitude accuracy only: a sampled
        # estimate (or a caller-supplied count, the index_count
        # pattern) replaces a full count() action that would re-run
        # the B side's whole upstream lineage — twice per undirected
        # call — just to pick a plan
        n_b = b_count if b_count is not None else approx_index_count(b_df)
        if n_b >= knn_threshold:
            return hausdorff_directed_knn(spark, a_df, b_df, group_col)
    a = normalized_cols(a_df).select(
        F.col("key").alias("ak"), F.col(group_col).alias("ag"),
        F.col("ux").alias("aux"), F.col("uy").alias("auy"),
        F.col("uz").alias("auz"),
    )
    b = normalized_cols(b_df).select(
        F.col(group_col).alias("bg"),
        F.col("ux").alias("bux"), F.col("uy").alias("buy"),
        F.col("uz").alias("buz"),
    )
    pairs = a.join(F.broadcast(b), a["ag"] == b["bg"], "inner")
    d2 = _dist2(
        F.col("aux"), F.col("auy"), F.col("auz"),
        F.col("bux"), F.col("buy"), F.col("buz"),
    )
    mins = pairs.groupBy("ak", "ag").agg(F.min(d2).alias("min_d2"))
    return (
        mins.groupBy("ag")
        .agg(F.max("min_d2").alias("hausdorff2"))
        .select(F.col("ag").alias(group_col), "hausdorff2")
    )


def hausdorff_undirected(
    a_df: DataFrame,
    b_df: DataFrame,
    group_col: str = "grp",
    spark: SparkSession | None = None,
    knn_threshold: int = HAUSDORFF_KNN_THRESHOLD,
    a_count: int | None = None,
    b_count: int | None = None,
) -> DataFrame:
    """Undirected Hausdorff distance per group
    (S2HausdorffDistanceQuery.cs:18-52: the max of the two directed
    passes).  Each pass reuses hausdorff_directed's size-based plan
    switch (broadcast per-group pairs vs per-group kNN-round
    composition), so the undirected form inherits the scale path.
    Output: (group_col, hausdorff2 = directed a->b, undirected2)."""
    fwd = hausdorff_directed(
        a_df, b_df, group_col, spark, knn_threshold, b_count=b_count
    ).withColumnRenamed("hausdorff2", "h_ab2")
    bwd = hausdorff_directed(
        b_df, a_df, group_col, spark, knn_threshold, b_count=a_count
    ).withColumnRenamed("hausdorff2", "h_ba2")
    return (
        fwd.join(bwd, group_col)
        .select(
            group_col,
            F.col("h_ab2").alias("hausdorff2"),
            F.greatest("h_ab2", "h_ba2").alias("undirected2"),
        )
    )


BROADCAST_EDGE_BUDGET = 200_000   # edges a broadcast-evaluate arm accepts
BROADCAST_CELL_BUDGET = 100_000   # index cells closest_cell_join accepts
BROADCAST_POINT_BUDGET = 100_000  # index points knn_join_brute accepts


def _check_edge_budget(n_edges: int, what: str, distributed_arm: str) -> None:
    """Loud dim-side contract for the broadcast closest-* arms: past
    the budget the per-batch scan cost stops being 'dim-sized' and the
    caller should be on the distributed plan instead of silently
    grinding (same policy as the driver-kernel edge budgets)."""
    if n_edges > BROADCAST_EDGE_BUDGET:
        raise ValueError(
            f"{what}: {n_edges} edges exceeds the broadcast-evaluate "
            f"budget of {BROADCAST_EDGE_BUDGET}; use {distributed_arm} "
            "(cell-keyed edge index + ring expansion) for fact-scale "
            "edge collections"
        )


def closest_polyline(
    points: DataFrame,
    polylines: list,
) -> DataFrame:
    """Nearest polyline per point: (key, line_id, dist2) with dist2 the
    min squared-chord distance over the line's edges
    (S2ClosestEdgeQuery point target over an edge collection,
    Query/S2ClosestEdgeQueryBase.cs semantics; the dim side is small so
    the right plan is broadcast-evaluate-all, not index descent).

    ``polylines``: [(line_id, edges [(a, b), ...])].  Ties break by
    line_id (reference result order distance-then-shape-id).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    lines = sorted(polylines, key=lambda t: t[0])
    _check_edge_budget(
        sum(len(e) for _, e in lines), "closest_polyline",
        "closest_edge_join",
    )

    @pandas_udf(
        StructType(
            [
                StructField("line_id", LongType(), False),
                StructField("dist2", DoubleType(), False),
            ]
        )
    )
    def _closest(ux: pd.Series, uy: pd.Series, uz: pd.Series) -> pd.DataFrame:
        import numpy as np

        from ..kernels import polyline as PL

        px, py, pz = ux.to_numpy(), uy.to_numpy(), uz.to_numpy()
        best_d2 = np.full(len(px), np.inf)
        best_id = np.full(len(px), -1, dtype=np.int64)
        for lid, edges in lines:
            d2 = np.full(len(px), np.inf)
            for a, b in edges:
                d2 = np.minimum(d2, PL.edge_distance2_batch(px, py, pz, a, b))
            better = d2 < best_d2  # strict: earlier (smaller) id wins ties
            best_d2 = np.where(better, d2, best_d2)
            best_id = np.where(better, lid, best_id)
        return pd.DataFrame({"line_id": best_id, "dist2": best_d2})

    out = normalized_cols(points).withColumn(
        "best", _closest(F.col("ux"), F.col("uy"), F.col("uz"))
    )
    return out.select(
        "key",
        F.col("best.line_id").alias("line_id"),
        F.col("best.dist2").alias("dist2"),
    )


def edge_covering_index(edges_df: DataFrame, level: int) -> DataFrame:
    """Cell-keyed edge index: explode each edge row into one row per
    level-``level`` covering cell it intersects (conservative supercover
    via ``kernels.edgeclip.edge_covering_cells`` — the per-level slice
    of the reference's S2ShapeIndex cell descent).

    Input  (line_id, edge_idx, ax, ay, az, bx, by, bz) unit endpoints;
    output adds ``cov_cell`` (int64).  This is the one-time distributed
    index BUILD (embarrassingly parallel per edge); the query loop
    below re-keys it per round with a pure-JVM ``parent()`` — valid for
    any round level <= ``level``, which ``closest_edge_join`` enforces.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    lvl = int(level)

    @pandas_udf(ArrayType(LongType()))
    def _cover(
        ax: pd.Series, ay: pd.Series, az: pd.Series,
        bx: pd.Series, by: pd.Series, bz: pd.Series,
    ) -> pd.Series:
        from ..kernels import cellid as CI
        from ..kernels import edgeclip as EC

        out = []
        for a0, a1, a2, b0, b1, b2 in zip(ax, ay, az, bx, by, bz):
            cells = EC.edge_covering_cells((a0, a1, a2), (b0, b1, b2), lvl)
            out.append(
                CI.as_i64(np.array(cells, dtype=np.uint64)).tolist()
            )
        return pd.Series(out)

    return edges_df.withColumn(
        "cov_cell",
        F.explode(
            _cover(
                F.col("ax"), F.col("ay"), F.col("az"),
                F.col("bx"), F.col("by"), F.col("bz"),
            )
        ),
    )


def _edge_dist2_udf():
    """pUDF: row-vectorized point->edge squared-chord distance
    (bit-identical to the broadcast arm's edge_distance2_batch; see
    kernels.polyline.edge_distance2_rows)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _d2(
        px: pd.Series, py: pd.Series, pz: pd.Series,
        ax: pd.Series, ay: pd.Series, az: pd.Series,
        bx: pd.Series, by: pd.Series, bz: pd.Series,
    ) -> pd.Series:
        from ..kernels import polyline as PL

        return pd.Series(
            PL.edge_distance2_rows(
                px.to_numpy(), py.to_numpy(), pz.to_numpy(),
                ax.to_numpy(), ay.to_numpy(), az.to_numpy(),
                bx.to_numpy(), by.to_numpy(), bz.to_numpy(),
            )
        )

    return _d2


def ranked_edge_lines(
    unfin: DataFrame, idx: DataFrame, level: int, k: int,
    index_level: int | None = None,
) -> DataFrame:
    """One ring-expansion round of the distributed closest-edge query:
    3x3 neighborhood explode on the query side, pure-JVM ``parent()``
    re-key on the index side, shuffle equi-join on the ring cell, exact
    row-vectorized edge distances min-folded per (query, line), then
    the per-query (dist2, line_id) window.  Module-level so the plan
    tests can assert the join strategy directly (the edge table must
    never broadcast at fact scale)."""
    d2 = _edge_dist2_udf()
    w = Window.partitionBy("qk").orderBy("dist2", "line_id")
    ring = _ring_udf(level)
    probe = unfin.withColumn("jcell", F.explode(ring(F.col("qcell"))))
    iside = idx.withColumn("jcell", S.cell_parent(F.col("cov_cell"), level))
    if index_level is not None and level < index_level:
        # the parent() re-key collapses every level-``index_level``
        # covering cell of one edge under the same coarse jcell — at a
        # coarse round the duplicate factor is 4^(index_level-level) in
        # the worst case, and every duplicate index row multiplies the
        # candidate join's output (each one re-evaluates the pUDF
        # distance per matching query).  A dedup here is a shuffle
        # bounded by INDEX size; the candidate rows it saves scale with
        # QUERY x duplicate-factor — measured 8x fewer pUDF rows on the
        # sf1 polyline arm (744 -> 94 index rows at the level-2 seed).
        # At level == index_level the cov_cells are already distinct
        # per edge, so the dedup exchange is skipped entirely.
        iside = iside.dropDuplicates(["jcell", "line_id", "edge_idx"])
    # remaining duplicates (same edge via several ring cells of one
    # query) are absorbed by the min-fold — cheaper than a dedup
    # shuffle on the candidate rows
    cand = probe.join(iside, on="jcell", how="inner").select(
        "qk", "line_id",
        d2(
            F.col("qux"), F.col("quy"), F.col("quz"),
            F.col("iax"), F.col("iay"), F.col("iaz"),
            F.col("ibx"), F.col("iby"), F.col("ibz"),
        ).alias("ed2"),
    )
    return (
        cand.groupBy("qk", "line_id")
        .agg(F.min("ed2").alias("dist2"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def closest_edge_join(
    spark: SparkSession,
    points: DataFrame,
    edge_index: DataFrame,
    index_level: int,
    k: int = 1,
    seed_level: int | None = None,
    edge_count: int | None = None,
    max_rounds: int = 8,
    max_error2: float = 0.0,
) -> DataFrame:
    """k nearest edge COLLECTIONS (lines) per query point against a
    fully distributed cell-keyed edge index — the fact-scale form of
    ``closest_polyline`` (Query/S2ClosestEdgeQueryBase.cs:211-363 over
    indexed edges): a 100M-edge road network never broadcasts and never
    moves; only query-side ring rows and slim candidate rows shuffle.

    round r: every unfinished query joins its 3x3 level-L_r cell
    neighborhood against the index re-keyed by ``parent(cov_cell,
    L_r)`` (pure JVM); candidate distances are the exact row-vectorized
    edge kernel, min-folded per (query, line); a query finishes when
    its k-th line distance is inside the ring guarantee chord2
    (kMinWidth(L_r)) — valid for edges because the covering is
    conservative: an edge with no covering cell in the ring lies
    entirely outside it, hence at least one cell min-width away.

    ``edge_index``: output of ``edge_covering_index`` built at
    ``index_level`` (rounds only coarsen, so ``parent()`` re-keying is
    exact).  Output (key, line_id, dist2, rn), rn in [1, k] ordered by
    (dist2, line_id) — bit-identical distances and tie order to the
    broadcast arm.

    ``max_error2``: squared-chord tolerance (Options.MaxError, same
    semantics as ``knn_join``): a query finishes once kth < guarantee
    + max_error2, so each reported rank-r distance exceeds the true
    one by < max_error2; 0.0 is exact.
    """
    if seed_level is None:
        if edge_count is None:
            # log-scale estimate only: counting covering ROWS
            # over-counts edges by the cells-per-edge factor (small,
            # supercover at index_level), which shifts the seed level
            # by at most ~1 — same policy as knn_join's
            # approx_index_count, avoiding an exact distinct() shuffle
            # over the fact-scale edge index just to pick a log-scale
            # starting point
            edge_count = approx_index_count(edge_index)
        seed_level = default_seed_level(edge_count, k)
    seed_level = min(int(seed_level), int(index_level))

    q = (
        normalized_cols(points)
        .select(
            F.col("key").alias("qk"),
            F.col("ux").alias("qux"), F.col("uy").alias("quy"),
            F.col("uz").alias("quz"), F.col("cell_id").alias("qcell"),
        )
        .localCheckpoint()
    )
    idx = edge_index.select(
        "line_id", "edge_idx",
        F.col("ax").alias("iax"), F.col("ay").alias("iay"),
        F.col("az").alias("iaz"), F.col("bx").alias("ibx"),
        F.col("by").alias("iby"), F.col("bz").alias("ibz"),
        "cov_cell",
    ).localCheckpoint()

    w = Window.partitionBy("qk").orderBy("dist2", "line_id")
    unfinished = q
    finished_parts: list[DataFrame] = []
    level = seed_level

    for _rnd in range(max_rounds):
        if level < MIN_LEVEL_FLOOR or unfinished.isEmpty():
            break
        ranked = ranked_edge_lines(
            unfinished, idx, level, k, index_level=index_level
        ).localCheckpoint()
        guarantee = _chord2_from_radians(KMIN_WIDTH.get_value(level))
        done_q = (
            ranked.groupBy("qk")
            .agg(F.max("dist2").alias("kth"), F.count(F.lit(1)).alias("nk"))
            .where(
                (F.col("nk") >= k)
                & (F.col("kth") < F.lit(guarantee + max_error2))
            )
            .select("qk")
            # one slim row per finished query, consumed by BOTH joins
            # below — checkpointing runs its agg once, not twice
            .localCheckpoint()
        )
        finished_parts.append(ranked.join(done_q, on="qk", how="left_semi"))
        unfinished = unfinished.join(
            done_q, on="qk", how="left_anti"
        ).localCheckpoint()
        level -= 1

    if not unfinished.isEmpty():
        # residual exact pass (tiny fraction by construction): every
        # remaining query against the full edge table — still a join,
        # not a broadcast/collect
        d2 = _edge_dist2_udf()
        cand = unfinished.crossJoin(
            idx.dropDuplicates(["line_id", "edge_idx"]).drop("cov_cell")
        ).select(
            "qk", "line_id",
            d2(
                F.col("qux"), F.col("quy"), F.col("quz"),
                F.col("iax"), F.col("iay"), F.col("iaz"),
                F.col("ibx"), F.col("iby"), F.col("ibz"),
            ).alias("ed2"),
        )
        finished_parts.append(
            cand.groupBy("qk", "line_id")
            .agg(F.min("ed2").alias("dist2"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
        )

    if not finished_parts:
        # empty query side: typed empty result, same guard as knn_join
        finished_parts.append(
            q.limit(0)
            .crossJoin(idx.limit(0).select("line_id"))
            .select(
                "qk", "line_id",
                F.lit(0.0).alias("dist2"),
                F.lit(1).alias("rn"),
            )
        )
    result = finished_parts[0]
    for part in finished_parts[1:]:
        result = result.unionByName(part)
    return result.select(
        F.col("qk").alias("key"),
        "line_id",
        "dist2",
        F.col("rn").cast("long").alias("rn"),
    )


def closest_polygon(
    points: DataFrame,
    polygons: list,
) -> DataFrame:
    """Nearest polygon per point with the INTERIOR SHORTCUT
    (S2ClosestEdgeQueryBase.cs:224-238 VisitContainingShapes): a point
    inside an indexed polygon is at distance 0 immediately, so the
    crossing-parity containment test runs FIRST and only exterior
    points pay the per-edge distance scan.  The dim-sized polygon side
    broadcasts and evaluates vectorized (the resolved plan of
    closest_polyline); at scale the same shortcut composes as the
    covering-term PIP join emitting dist2=0 rows before ring
    expansion.

    ``polygons``: [(region_id, Loop)].  Output (key, region_id, dist2)
    with ties broken by (dist2, region_id)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    polys = sorted(
        (int(rid), np.asarray(lp.verts), bool(lp.origin_inside))
        for rid, lp in polygons
    )
    _check_edge_budget(
        sum(len(v) for _, v, _ in polys), "closest_polygon",
        "closest_edge_join + covering-term PIP dist2=0 rows",
    )

    @pandas_udf(
        StructType(
            [
                StructField("region_id", LongType(), False),
                StructField("dist2", DoubleType(), False),
            ]
        )
    )
    def _closest(ux: pd.Series, uy: pd.Series, uz: pd.Series) -> pd.DataFrame:
        from ..kernels import edges as KE
        from ..kernels import polyline as PL

        px, py, pz = ux.to_numpy(), uy.to_numpy(), uz.to_numpy()
        best_d2 = np.full(len(px), np.inf)
        best_id = np.full(len(px), -1, dtype=np.int64)
        for rid, verts, oi in polys:
            inside = (
                KE.crossing_parity_fast(verts, px, py, pz) ^ int(oi)
            ).astype(bool)
            d2 = np.zeros(len(px))
            out = ~inside
            if out.any():
                # the shortcut: edge distances only for exterior points
                ox, oy, oz = px[out], py[out], pz[out]
                dd = np.full(out.sum(), np.inf)
                n = len(verts)
                for k in range(n):
                    a = tuple(float(x) for x in verts[k])
                    b = tuple(float(x) for x in verts[(k + 1) % n])
                    dd = np.minimum(
                        dd, PL.edge_distance2_batch(ox, oy, oz, a, b)
                    )
                d2[out] = dd
            better = d2 < best_d2  # strict: smaller region_id wins ties
            best_d2 = np.where(better, d2, best_d2)
            best_id = np.where(better, rid, best_id)
        return pd.DataFrame({"region_id": best_id, "dist2": best_d2})

    out = normalized_cols(points).withColumn(
        "best", _closest(F.col("ux"), F.col("uy"), F.col("uz"))
    )
    return out.select(
        "key",
        F.col("best.region_id").alias("region_id"),
        F.col("best.dist2").alias("dist2"),
    )


def closest_polygon_oracle_sql(
    pts_cte: str, upts_cte: str, loop_edges_cte: str
) -> str:
    """DuckDB mirror of closest_polygon: the pip_loop parity pipeline
    decides containment (dist2 = 0), exterior points take the exact
    per-edge min squared-chord distance (same IEEE expression as
    closest_polyline_oracle_sql), argmin per key with (dist2,
    region_id) tie order.  ``pts_cte`` supplies pts(key, x, y, z) raw
    directions; ``upts_cte`` the normalized upts on top of it;
    ``loop_edges_cte`` supplies loop_edges(region_id, cx..cz, dx..dz,
    origin_inside) literal vertices and MUST be named loop_edges
    (enforced)."""
    _require_loop_edges_cte(loop_edges_cte)
    from ..functions.duckdb_oracle import pip_loop_sql

    eps1 = repr(4.75 * 2.220446049250313e-16)
    eps2 = repr(8 * 2.220446049250313e-16 * 2.220446049250313e-16)
    ins = pip_loop_sql(pts_cte, loop_edges_cte)
    return f"""WITH {pts_cte},
{upts_cte},
{loop_edges_cte},
ins AS ({ins}),
ed AS (
  SELECT region_id, cx AS ax, cy AS ay, cz AS az,
         dx AS bx, dy AS by, dz AS bz,
         (cy-dy)*(cz+dz) - (cz-dz)*(cy+dy) AS scx,
         (cz-dz)*(cx+dx) - (cx-dx)*(cz+dz) AS scy,
         (cx-dx)*(cy+dy) - (cy-dy)*(cx+dx) AS scz,
         ((cx-dx)*(cx-dx) + (cy-dy)*(cy-dy)) + (cz-dz)*(cz-dz) AS ab2
  FROM loop_edges
),
ed2 AS (SELECT *, ((scx*scx + scy*scy) + scz*scz) AS c2 FROM ed),
pair AS (
  SELECT p.key, e.region_id,
    ((p.ux-e.ax)*(p.ux-e.ax) + (p.uy-e.ay)*(p.uy-e.ay)) + (p.uz-e.az)*(p.uz-e.az) AS xa2,
    ((p.ux-e.bx)*(p.ux-e.bx) + (p.uy-e.by)*(p.uy-e.by)) + (p.uz-e.bz)*(p.uz-e.bz) AS xb2,
    ((p.ux*e.scx + p.uy*e.scy) + p.uz*e.scz) AS x_dot_c,
    e.scy*p.uz - e.scz*p.uy AS cxx,
    e.scz*p.ux - e.scx*p.uz AS cxy,
    e.scx*p.uy - e.scy*p.ux AS cxz,
    e.ax - p.ux AS dax, e.ay - p.uy AS day, e.az - p.uz AS daz,
    e.bx - p.ux AS dbx, e.by - p.uy AS dby, e.bz - p.uz AS dbz,
    e.ab2, e.c2
  FROM upts p CROSS JOIN ed2 e
),
de AS (
  SELECT key, region_id,
    CASE WHEN abs(xa2 - xb2) < ab2 + (CAST('{eps1}' AS DOUBLE)*((xa2 + xb2) + ab2) + CAST('{eps2}' AS DOUBLE))
              AND ((dax*cxx + day*cxy) + daz*cxz) < 0
              AND ((dbx*cxx + dby*cxy) + dbz*cxz) > 0
         THEN (x_dot_c*x_dot_c/c2) + (1 - sqrt(((cxx*cxx + cxy*cxy) + cxz*cxz)/c2))*(1 - sqrt(((cxx*cxx + cxy*cxy) + cxz*cxz)/c2))
         ELSE least(xa2, xb2) END AS d2
  FROM pair
),
mind AS (SELECT key, region_id, MIN(d2) AS min_d2 FROM de GROUP BY key, region_id),
alld AS (
  SELECT m.key, m.region_id,
         CASE WHEN i.key IS NOT NULL THEN 0.0 ELSE m.min_d2 END AS d2
  FROM mind m LEFT JOIN ins i
    ON m.key = i.key AND m.region_id = i.region_id
)
SELECT key, region_id, dist2 FROM (
  SELECT key, region_id, d2 AS dist2,
         row_number() OVER (PARTITION BY key ORDER BY d2, region_id) AS rn
  FROM alld
) WHERE rn = 1"""


def _require_loop_edges_cte(edges_cte: str) -> None:
    """The polyline/polygon oracle builders reference the edge table
    by the literal name ``loop_edges`` in their inner CTEs; a caller
    passing a differently-named CTE would get a confusing SQL binding
    error, so fail loudly here instead."""
    if not edges_cte.lstrip().startswith("loop_edges"):
        raise ValueError(
            "edges_cte must define a CTE named 'loop_edges' "
            f"(got {edges_cte.lstrip()[:40]!r}...)"
        )


def closest_polyline_oracle_sql(upts_cte: str, edges_cte: str) -> str:
    """DuckDB mirror: per (point, edge) the identical squared-chord
    distance expression (as near_loop_sql), min per line, argmin per
    point with (dist2, line_id) tie order.  ``edges_cte`` MUST be
    named loop_edges (enforced)."""
    _require_loop_edges_cte(edges_cte)
    return f"""WITH {upts_cte},
{edges_cte},
ed AS (
  SELECT line_id, ax, ay, az, bx, by, bz,
         (ay-by)*(az+bz) - (az-bz)*(ay+by) AS scx,
         (az-bz)*(ax+bx) - (ax-bx)*(az+bz) AS scy,
         (ax-bx)*(ay+by) - (ay-by)*(ax+bx) AS scz,
         ((ax-bx)*(ax-bx) + (ay-by)*(ay-by)) + (az-bz)*(az-bz) AS ab2
  FROM loop_edges
),
ed2 AS (SELECT *, ((scx*scx + scy*scy) + scz*scz) AS c2 FROM ed),
pair AS (
  SELECT p.key, e.line_id,
    ((p.ux-e.ax)*(p.ux-e.ax) + (p.uy-e.ay)*(p.uy-e.ay)) + (p.uz-e.az)*(p.uz-e.az) AS xa2,
    ((p.ux-e.bx)*(p.ux-e.bx) + (p.uy-e.by)*(p.uy-e.by)) + (p.uz-e.bz)*(p.uz-e.bz) AS xb2,
    ((p.ux*e.scx + p.uy*e.scy) + p.uz*e.scz) AS x_dot_c,
    e.scy*p.uz - e.scz*p.uy AS cxx,
    e.scz*p.ux - e.scx*p.uz AS cxy,
    e.scx*p.uy - e.scy*p.ux AS cxz,
    e.ax - p.ux AS dax, e.ay - p.uy AS day, e.az - p.uz AS daz,
    e.bx - p.ux AS dbx, e.by - p.uy AS dby, e.bz - p.uz AS dbz,
    e.ab2, e.c2
  FROM upts p CROSS JOIN ed2 e
),
de AS (
  SELECT key, line_id,
    CASE WHEN abs(xa2 - xb2) < ab2 + (CAST('{repr(4.75 * 2.220446049250313e-16)}' AS DOUBLE)*((xa2 + xb2) + ab2) + CAST('{repr(8 * 2.220446049250313e-16 * 2.220446049250313e-16)}' AS DOUBLE))
              AND ((dax*cxx + day*cxy) + daz*cxz) < 0
              AND ((dbx*cxx + dby*cxy) + dbz*cxz) > 0
         THEN (x_dot_c*x_dot_c/c2) + (1 - sqrt(((cxx*cxx + cxy*cxy) + cxz*cxz)/c2))*(1 - sqrt(((cxx*cxx + cxy*cxy) + cxz*cxz)/c2))
         ELSE least(xa2, xb2) END AS d2
  FROM pair
)
SELECT key, line_id, dist2 FROM (
  SELECT key, line_id, MIN(d2) AS dist2,
         row_number() OVER (PARTITION BY key ORDER BY MIN(d2), line_id) AS rn
  FROM de GROUP BY key, line_id
) WHERE rn = 1"""


def near_polyline_oracle_sql(
    upts_cte: str, edges_cte: str, radius_chord2: float
) -> str:
    """DuckDB mirror of point_near_polyline_join: per (point, line)
    the exact min edge squared-chord distance (same IEEE expression as
    closest_polyline_oracle_sql), kept when <= radius_chord2.
    ``edges_cte`` MUST be named loop_edges (enforced)."""
    _require_loop_edges_cte(edges_cte)
    eps1 = repr(4.75 * 2.220446049250313e-16)
    eps2 = repr(8 * 2.220446049250313e-16 * 2.220446049250313e-16)
    return f"""WITH {upts_cte},
{edges_cte},
ed AS (
  SELECT line_id, ax, ay, az, bx, by, bz,
         (ay-by)*(az+bz) - (az-bz)*(ay+by) AS scx,
         (az-bz)*(ax+bx) - (ax-bx)*(az+bz) AS scy,
         (ax-bx)*(ay+by) - (ay-by)*(ax+bx) AS scz,
         ((ax-bx)*(ax-bx) + (ay-by)*(ay-by)) + (az-bz)*(az-bz) AS ab2
  FROM loop_edges
),
ed2 AS (SELECT *, ((scx*scx + scy*scy) + scz*scz) AS c2 FROM ed),
pair AS (
  SELECT p.key, e.line_id,
    ((p.ux-e.ax)*(p.ux-e.ax) + (p.uy-e.ay)*(p.uy-e.ay)) + (p.uz-e.az)*(p.uz-e.az) AS xa2,
    ((p.ux-e.bx)*(p.ux-e.bx) + (p.uy-e.by)*(p.uy-e.by)) + (p.uz-e.bz)*(p.uz-e.bz) AS xb2,
    ((p.ux*e.scx + p.uy*e.scy) + p.uz*e.scz) AS x_dot_c,
    e.scy*p.uz - e.scz*p.uy AS cxx,
    e.scz*p.ux - e.scx*p.uz AS cxy,
    e.scx*p.uy - e.scy*p.ux AS cxz,
    e.ax - p.ux AS dax, e.ay - p.uy AS day, e.az - p.uz AS daz,
    e.bx - p.ux AS dbx, e.by - p.uy AS dby, e.bz - p.uz AS dbz,
    e.ab2, e.c2
  FROM upts p CROSS JOIN ed2 e
),
de AS (
  SELECT key, line_id,
    CASE WHEN abs(xa2 - xb2) < ab2 + (CAST('{eps1}' AS DOUBLE)*((xa2 + xb2) + ab2) + CAST('{eps2}' AS DOUBLE))
              AND ((dax*cxx + day*cxy) + daz*cxz) < 0
              AND ((dbx*cxx + dby*cxy) + dbz*cxz) > 0
         THEN (x_dot_c*x_dot_c/c2) + (1 - sqrt(((cxx*cxx + cxy*cxy) + cxz*cxz)/c2))*(1 - sqrt(((cxx*cxx + cxy*cxy) + cxz*cxz)/c2))
         ELSE least(xa2, xb2) END AS d2
  FROM pair
)
SELECT key, line_id FROM (
  SELECT key, line_id, MIN(d2) AS m FROM de GROUP BY key, line_id
) WHERE m <= CAST('{radius_chord2!r}' AS DOUBLE)"""


def hausdorff_undirected_oracle_sql(
    a_pts_cte: str, b_pts_cte: str, group_col: str = "grp"
) -> str:
    """DuckDB mirror of hausdorff_undirected: both directed maxes plus
    their greatest, joined per group."""
    d2_ab = (
        "((a.ux-b.ux)*(a.ux-b.ux) + (a.uy-b.uy)*(a.uy-b.uy)) "
        "+ (a.uz-b.uz)*(a.uz-b.uz)"
    )
    return f"""WITH {a_pts_cte},
{b_pts_cte},
ua AS (SELECT key, grp, x/r AS ux, y/r AS uy, z/r AS uz FROM
       (SELECT key, grp, x, y, z, sqrt(x*x + y*y + z*z) AS r FROM apts)),
ub AS (SELECT key, grp, x/r AS ux, y/r AS uy, z/r AS uz FROM
       (SELECT key, grp, x, y, z, sqrt(x*x + y*y + z*z) AS r FROM bpts)),
mins_ab AS (
  SELECT a.key, a.grp, MIN({d2_ab}) AS min_d2
  FROM ua a JOIN ub b ON a.grp = b.grp GROUP BY a.key, a.grp
),
mins_ba AS (
  SELECT b.key, b.grp, MIN({d2_ab}) AS min_d2
  FROM ub b JOIN ua a ON a.grp = b.grp GROUP BY b.key, b.grp
),
h_ab AS (SELECT grp, MAX(min_d2) AS h2 FROM mins_ab GROUP BY grp),
h_ba AS (SELECT grp, MAX(min_d2) AS h2 FROM mins_ba GROUP BY grp)
SELECT h_ab.grp AS {group_col}, h_ab.h2 AS hausdorff2,
       greatest(h_ab.h2, h_ba.h2) AS undirected2
FROM h_ab JOIN h_ba ON h_ab.grp = h_ba.grp"""


def knn_oracle_sql(
    q_pts_cte: str, i_pts_cte: str, k: int,
    max_distance2: float | None = None,
) -> str:
    """DuckDB brute-force kNN mirroring knn_join's arithmetic:
    normalization and squared-chord distance in identical IEEE order,
    ties broken by (dist2, neighbor_key) as in the reference's result
    ordering.  ``max_distance2`` mirrors the bounded form (Options
    MaxDistance): pairs past the bound drop before ranking."""
    d2 = (
        "((q.ux-i.ux)*(q.ux-i.ux) + (q.uy-i.uy)*(q.uy-i.uy)) "
        "+ (q.uz-i.uz)*(q.uz-i.uz)"
    )
    bound = (
        f"\nWHERE dist2 <= CAST('{max_distance2!r}' AS DOUBLE)"
        if max_distance2 is not None
        else ""
    )
    return f"""WITH {q_pts_cte},
{i_pts_cte},
uq AS (SELECT key, x/r AS ux, y/r AS uy, z/r AS uz FROM
       (SELECT key, x, y, z, sqrt(x*x + y*y + z*z) AS r FROM qpts)),
ui AS (SELECT key, x/r AS ux, y/r AS uy, z/r AS uz FROM
       (SELECT key, x, y, z, sqrt(x*x + y*y + z*z) AS r FROM ipts)),
pairs AS (
  SELECT q.key AS key, i.key AS neighbor_key, {d2} AS dist2
  FROM uq q CROSS JOIN ui i
),
inb AS (SELECT * FROM pairs{bound})
SELECT key, neighbor_key, dist2, rn FROM (
  SELECT key, neighbor_key, dist2,
         row_number() OVER (PARTITION BY key
                            ORDER BY dist2, neighbor_key) AS rn
  FROM inb
) WHERE rn <= {k}"""


# ---------------------------------------------------------------------
# Furthest (max-distance) queries: S2FurthestEdgeQuery.cs +
# S2MaxDistanceTargets.cs.  On the sphere max-distance is the antipodal
# min-distance (dist(q, p) = pi - dist(-q, p); squared-chord form:
# d2(q, p) = 4 - d2(-q, p)), so the same kNN machinery (either arm of
# knn_join) runs on the negated query vectors — no new index structure
# needed.  The brute arm never reads the antipodal cell ids, so Spark
# prunes their encode pUDF from its plan.
# ---------------------------------------------------------------------

def furthest_join(
    spark: SparkSession,
    queries: DataFrame,
    index: DataFrame,
    k: int,
    **kw,
) -> DataFrame:
    """k furthest index points per query point: (key, neighbor_key,
    dist2, rn) with rn ordered furthest-first, ties by neighbor_key
    (the reference's max-distance result order)."""
    from . import tile as T

    anti = queries.withColumns(
        {"x": -F.col("x"), "y": -F.col("y"), "z": -F.col("z")}
    )
    anti = T.assign_cellids(anti)
    nn = knn_join(spark, anti, index, k, **kw)
    return nn.select(
        "key",
        "neighbor_key",
        (F.lit(4.0) - F.col("dist2")).alias("dist2"),
        "rn",
    )


def furthest_polyline(points: DataFrame, polylines: list) -> DataFrame:
    """Furthest polyline per point: (key, line_id, dist2) where dist2
    is the MAX squared-chord distance to the line (attained on its
    edges), computed as 4 - min distance of the antipode
    (S2FurthestEdgeQuery over an edge collection)."""
    anti = points.withColumns(
        {"x": -F.col("x"), "y": -F.col("y"), "z": -F.col("z")}
    )
    out = closest_polyline(anti, polylines)
    return out.select(
        "key", "line_id", (F.lit(4.0) - F.col("dist2")).alias("dist2")
    )


def furthest_oracle_sql(q_pts_cte: str, i_pts_cte: str, k: int) -> str:
    """DuckDB brute-force mirror of furthest_join: identical negation +
    normalization + antipodal-distance arithmetic, ranked by the
    antipodal distance ascending (NOT by 4-d2 descending, which could
    collapse distinct doubles)."""
    d2 = (
        "((q.ux-i.ux)*(q.ux-i.ux) + (q.uy-i.uy)*(q.uy-i.uy)) "
        "+ (q.uz-i.uz)*(q.uz-i.uz)"
    )
    return f"""WITH {q_pts_cte},
{i_pts_cte},
uq AS (SELECT key, (-(x))/r AS ux, (-(y))/r AS uy, (-(z))/r AS uz FROM
       (SELECT key, x, y, z, sqrt(x*x + y*y + z*z) AS r FROM qpts)),
ui AS (SELECT key, x/r AS ux, y/r AS uy, z/r AS uz FROM
       (SELECT key, x, y, z, sqrt(x*x + y*y + z*z) AS r FROM ipts)),
pairs AS (
  SELECT q.key AS key, i.key AS neighbor_key, {d2} AS anti_d2
  FROM uq q CROSS JOIN ui i
)
SELECT key, neighbor_key, 4.0 - anti_d2 AS dist2, rn FROM (
  SELECT key, neighbor_key, anti_d2,
         row_number() OVER (PARTITION BY key
                            ORDER BY anti_d2, neighbor_key) AS rn
  FROM pairs
) WHERE rn <= {k}"""


def furthest_polyline_oracle_sql(upts_anti_cte: str, edges_cte: str) -> str:
    """DuckDB mirror of furthest_polyline: closest_polyline arithmetic
    over the antipodal unit points, final dist2 = 4 - d2."""
    inner = closest_polyline_oracle_sql(upts_anti_cte, edges_cte)
    return (
        f"SELECT key, line_id, 4.0 - dist2 AS dist2 FROM ({inner})"
    )


def closest_cell_join(
    points: DataFrame,
    entries: list,
    k: int = 1,
    point_key: str = "key",
) -> DataFrame:
    """k closest labeled index cells per point
    (Query/S2ClosestCellQuery.cs over a (cell_id, label) index):
    (key, cell_id, label, dist2, rn) ordered (dist2, cell_id, label).

    The index is the broadcast dim side; the refine evaluates each
    cell's vectorized min-distance against the whole Arrow batch of
    points (kernels.closest_cell), so the per-point cost is O(index
    cells) of numpy column math — suitable for dim-scale indexes (for
    huge indexes, pre-prune candidates with the ring-expansion kNN on
    cell centers first)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    from ..kernels.closest_cell import cell_distance_to_points_batch
    from ..kernels.geom import Cell

    # pre-sort the index by the reference tie order (cell_id unsigned,
    # label): a STABLE argsort on distance alone then yields exactly the
    # (distance, cell_id, label) result order — no per-point Python sort
    ents = sorted((int(c) & (2**64 - 1), int(lab)) for c, lab in entries)
    if len(ents) > BROADCAST_CELL_BUDGET:
        raise ValueError(
            f"closest_cell_join: {len(ents)} index cells exceeds the "
            f"broadcast budget of {BROADCAST_CELL_BUDGET}; pre-prune "
            "with the ring-expansion kNN on cell centers (knn_join) "
            "before the exact cell-distance refine"
        )

    @pandas_udf(
        ArrayType(
            StructType(
                [
                    StructField("cell_id", LongType(), False),
                    StructField("label", LongType(), False),
                    StructField("dist2", DoubleType(), False),
                ]
            )
        )
    )
    def _closest(ux: pd.Series, uy: pd.Series, uz: pd.Series) -> pd.Series:
        px, py, pz = ux.to_numpy(), uy.to_numpy(), uz.to_numpy()
        n = len(px)
        dists = np.empty((len(ents), n))
        for i, (cid, _lab) in enumerate(ents):
            dists[i] = cell_distance_to_points_batch(
                Cell(np.uint64(cid).item()), px, py, pz
            )
        # one vectorized stable sort along the cells axis for ALL
        # points of the batch (ties keep pre-sorted (cell_id, label)
        # index order)
        top = np.argsort(dists, axis=0, kind="stable")[:k, :]  # (k', n)
        cells_i64 = np.array(
            [np.int64(np.uint64(c)).item() for c, _ in ents], dtype=np.int64
        )
        labels = np.array([lab for _, lab in ents], dtype=np.int64)
        kk = top.shape[0]
        out = []
        for j in range(n):
            idx = top[:, j]
            out.append(
                [
                    {
                        "cell_id": cells_i64[idx[r]].item(),
                        "label": labels[idx[r]].item(),
                        "dist2": float(dists[idx[r], j]),
                    }
                    for r in range(kk)
                ]
            )
        return pd.Series(out)

    upts = normalized_cols(points)
    res = upts.select(
        F.col(point_key),
        F.posexplode(_closest(F.col("ux"), F.col("uy"), F.col("uz"))).alias(
            "pos", "nb"
        ),
    )
    return res.select(
        point_key,
        F.col("nb.cell_id").alias("cell_id"),
        F.col("nb.label").alias("label"),
        F.col("nb.dist2").alias("dist2"),
        (F.col("pos") + 1).cast("long").alias("rn"),
    )
