"""Plan-evidence tests for the heavy-hitter operators: the scale
properties VERDICT/BENCH claim (broadcast dim sides, fact side never
shuffles, slim rows through candidate shuffles) are asserted on the
physical plan itself, so a plan regression fails CI instead of
showing up as bench drift."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _walk_plan(df):
    """Yield (class_name, node) for every physical node, descending
    through AQE wrappers."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        out.append((name, node))
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _shuffles(df):
    """(partitioning_string, [(col_name, type_name), ...]) per
    ShuffleExchangeExec."""
    res = []
    for name, node in _walk_plan(df):
        if name == "ShuffleExchangeExec":
            cols = [
                (
                    node.output().apply(i).name(),
                    node.output().apply(i).dataType().typeName(),
                )
                for i in range(node.output().size())
            ]
            res.append((node.outputPartitioning().toString(), cols))
    return res


@pytest.fixture(scope="module")
def pts(spark, sf_dir):
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import points as P

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return T.assign_cellids(
        P.with_xyz(orders.select(F.col("o_orderkey").alias("key")))
    )


def test_pip_cap_join_broadcasts_and_never_shuffles_facts(spark, sf_dir, pts):
    """The covering-term spatial join must be a BroadcastHashJoin with
    ZERO shuffle exchanges — the fact side flows scan -> Arrow encode
    -> ancestor explode -> broadcast join -> refine without ever
    repartitioning (the property that makes it survive 100x data)."""
    from s2geometry_spark.operators import spatial_join as SJ
    from s2geometry_spark.sources import regions_src as R

    j = SJ.point_in_cap_join(spark, pts, R.synthetic_caps(range(25)))
    names = [n for n, _ in _walk_plan(j)]
    assert "BroadcastHashJoinExec" in names
    assert "ShuffleExchangeExec" not in names
    assert "CartesianProductExec" not in names


def test_knn_join_shuffles_only_on_query_keys(spark, sf_dir, pts):
    """Inside a kNN round the index side is broadcast; the only
    shuffles partition on the QUERY key (window top-k), never on the
    index key — the index never moves."""
    import pyarrow.parquet as pq

    from s2geometry_spark.operators import knn as KNN
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import points as P

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    idx = T.assign_cellids(
        P.with_xyz(sup.select(F.col("s_suppkey").alias("key")))
    )
    n_idx = pq.ParquetFile(f"{sf_dir}/supplier.parquet").metadata.num_rows
    j = KNN.knn_join_rings(spark, pts, idx, 3, index_count=n_idx)
    names = [n for n, _ in _walk_plan(j)]
    assert "BroadcastExchangeExec" in names  # index side broadcast
    shuffles = _shuffles(j)
    assert shuffles, "expected the window top-k shuffle"
    for part, _cols in shuffles:
        assert "qk" in part, f"shuffle not on query key: {part}"
        assert "ik" not in part, f"index key in shuffle keys: {part}"


def test_knn_brute_arm_is_one_narrow_python_pass(spark, sf_dir, pts):
    """Below the size cutoff knn_join answers every query in one Arrow
    UDF pass over the query side: no exchange and no join of any kind.
    furthest_join takes the same arm, and the antipodal cell-id encode
    it adds is pruned (the brute arm never reads cell ids), so each
    plan holds exactly one Python node."""
    import pyarrow.parquet as pq

    from s2geometry_spark.operators import knn as KNN
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import points as P

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    idx = T.assign_cellids(
        P.with_xyz(sup.select(F.col("s_suppkey").alias("key")))
    )
    n_idx = pq.ParquetFile(f"{sf_dir}/supplier.parquet").metadata.num_rows
    assert n_idx <= KNN.KNN_BRUTE_FORCE_MAX_INDEX
    for op in (KNN.knn_join, KNN.furthest_join):
        j = op(spark, pts, idx, 3, index_count=n_idx)
        names = [n for n, _ in _walk_plan(j)]
        assert "ShuffleExchangeExec" not in names, (op.__name__, names)
        joins = [
            n for n in names
            if "Join" in n or n == "CartesianProductExec"
        ]
        assert not joins, (op.__name__, joins)
        assert names.count("ArrowEvalPythonExec") == 1, (op.__name__, names)


def test_doc_near_dup_shuffles_slim_rows_only(spark, sf_dir):
    """The LSH candidate join must stay a bucketed equi-join (no
    cartesian/nested-loop fallback) and no ARRAY column (shingles,
    minhash signatures) may cross any shuffle — candidate rows are the
    slim (band, bucket-key) form; text re-attaches once via broadcast."""
    from s2geometry_spark.operators import textops as TX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nd = TX.near_dup_pairs(docs)
    names = [n for n, _ in _walk_plan(nd)]
    assert "CartesianProductExec" not in names
    assert "BroadcastNestedLoopJoinExec" not in names
    for part, cols in _shuffles(nd):
        for cname, ctype in cols:
            assert ctype != "array", (
                f"array column {cname!r} crosses a shuffle ({part})"
            )


def test_near_polyline_join_broadcasts_and_never_shuffles_facts(
    spark, sf_dir, pts
):
    """The round-4 within-distance-of-a-route join keeps the same
    scale shape as the cap join: broadcast covering index, zero
    shuffles on the fact side."""
    from s2geometry_spark.operators import spatial_join as SJ
    from s2geometry_spark.sources import regions_src as R

    lines = [(k, R.polyline_vertices(k)) for k in range(25)]
    j = SJ.point_near_polyline_join(spark, pts, lines, 0.08)
    names = [n for n, _ in _walk_plan(j)]
    assert "BroadcastHashJoinExec" in names
    assert "ShuffleExchangeExec" not in names


def test_closest_polygon_is_shuffle_free(spark, sf_dir, pts):
    """closest_polygon is a broadcast-evaluate projection: one Arrow
    pass, no join, no shuffle."""
    from s2geometry_spark.operators.knn import closest_polygon
    from s2geometry_spark.sources import regions_src as R

    j = closest_polygon(pts, R.synthetic_loops(range(25)))
    names = [n for n, _ in _walk_plan(j)]
    assert "ShuffleExchangeExec" not in names
    assert "CartesianProductExec" not in names
