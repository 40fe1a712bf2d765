"""The brute-force arm of knn_join (the reference's small-index scan,
S2ClosestEdgeQueryBase.cs:274-298) must return the ring arm's rows
exactly: same neighbors, bit-identical dist2, same (dist2,
neighbor_key) rank order, through knn_join and furthest_join."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from s2geometry_spark.operators import knn as KNN
from s2geometry_spark.operators import tile as T

# index_count picks knn_join's arm
BRUTE = 0
RINGS = KNN.KNN_BRUTE_FORCE_MAX_INDEX + 1
OPS = pytest.mark.parametrize(
    "op", [KNN.knn_join, KNN.furthest_join], ids=lambda f: f.__name__
)


@pytest.fixture(scope="module")
def sides(spark):
    rng = np.random.default_rng(5)
    q = rng.standard_normal((300, 3))
    i = rng.standard_normal((40, 3))
    # six copies of one point under different keys; the first queries
    # sit on it (and on its antipode), so with k=3 the k boundary falls
    # inside the tie for both the nearest and the furthest search
    i[20:25] = i[7]
    q[:10] = i[7]
    q[10:20] = -i[7]
    ikeys = 1000 + rng.permutation(40)

    def frame(keys, v):
        return T.assign_cellids(
            spark.createDataFrame(
                pd.DataFrame(
                    {"key": keys, "x": v[:, 0], "y": v[:, 1], "z": v[:, 2]}
                )
            )
        ).localCheckpoint()

    tie_keys = sorted(ikeys[[7, 20, 21, 22, 23, 24]].tolist())
    return frame(np.arange(300), q), frame(ikeys, i), tie_keys


def _rows(df):
    return sorted(
        (r["key"], r["neighbor_key"], r["dist2"], r["rn"])
        for r in df.collect()
    )


def _both(spark, op, q, i, k, **kw):
    brute = op(spark, q, i, k, index_count=BRUTE, **kw)
    rings = op(spark, q, i, k, index_count=RINGS, **kw)
    assert brute.columns == rings.columns == [
        "key", "neighbor_key", "dist2", "rn",
    ]
    return _rows(brute), _rows(rings)


@OPS
def test_tie_at_k_boundary(spark, sides, op):
    q, i, tie_keys = sides
    brute, rings = _both(spark, op, q, i, 3)
    assert brute == rings
    assert len(brute) == 300 * 3
    # queries on the copies (nearest) or on their antipode (furthest)
    # keep the three lowest-keyed copies, ranked by key
    on_tie = range(0, 10) if op is KNN.knn_join else range(10, 20)
    want_d2 = 0.0 if op is KNN.knn_join else 4.0
    for key in on_tie:
        rows = [r for r in brute if r[0] == key]
        assert [r[1] for r in rows] == tie_keys[:3], key
        assert [r[2] for r in rows] == [want_d2] * 3, key


@OPS
def test_k_larger_than_index(spark, sides, op):
    q, i, _ = sides
    brute, rings = _both(spark, op, q, i, 45)
    assert brute == rings
    assert len(brute) == 300 * 40


@OPS
def test_max_distance_returns_fewer_than_k(spark, sides, op):
    q, i, _ = sides
    brute, rings = _both(spark, op, q, i, 5, max_distance2=0.3)
    assert brute == rings
    per_q = np.bincount([r[0] for r in brute], minlength=300)
    assert per_q.min() < 5 and per_q.max() == 5


@OPS
def test_empty_index(spark, sides, op):
    q, i, _ = sides
    brute, rings = _both(spark, op, q, i.limit(0), 3)
    assert brute == rings == []


@OPS
def test_empty_query_side(spark, sides, op):
    q, i, _ = sides
    brute, rings = _both(spark, op, q.limit(0), i, 3)
    assert brute == rings == []


def test_dispatch_follows_index_size(spark, sides):
    """Without index_count, knn_join sizes the index itself: this
    40-point index takes the join-free brute arm, while a grouped
    search stays on the rings."""
    q, i, _ = sides

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "Join" not in plan(KNN.knn_join(spark, q, i, 3))
    grouped = KNN.knn_join(
        spark, q.withColumn("g", q["key"] % 2),
        i.withColumn("g", i["key"] % 2), 3, group_col="g",
    )
    assert "Join" in plan(grouped)


def test_budget_fails_loudly(spark, sides, monkeypatch):
    q, i, _ = sides
    monkeypatch.setattr(KNN, "BROADCAST_POINT_BUDGET", 39)
    with pytest.raises(ValueError, match="broadcast budget"):
        KNN.knn_join_brute(q, i, 3)
