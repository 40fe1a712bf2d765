"""The brute-force arm of knn_join (the reference's small-index scan,
S2ClosestEdgeQueryBase.cs:274-298) must return the ring arm's rows
exactly: same neighbors, bit-identical dist2, same (dist2,
neighbor_key) rank order, through knn_join and furthest_join, with and
without ``group_col``."""

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


# six copies of one point under different keys; the first queries sit
# on it (and on its antipode), so with k=3 the k boundary falls inside
# the tie for both the nearest and the furthest search
TIE = [7, 20, 21, 22, 23, 24]


def _points():
    """The generator, 300 query and 40 index directions, index keys."""
    rng = np.random.default_rng(5)
    q = rng.standard_normal((300, 3))
    i = rng.standard_normal((40, 3))
    i[TIE[1:]] = i[TIE[0]]
    q[:10] = i[TIE[0]]
    q[10:20] = -i[TIE[0]]
    return rng, q, i, 1000 + rng.permutation(40)


def _frame(spark, keys, v, **groups):
    pdf = pd.DataFrame(
        {"key": keys, "x": v[:, 0], "y": v[:, 1], "z": v[:, 2], **groups}
    )
    return T.assign_cellids(spark.createDataFrame(pdf)).localCheckpoint()


@pytest.fixture(scope="module")
def sides(spark):
    _, q, i, ikeys = _points()
    tie_keys = sorted(ikeys[TIE].tolist())
    return _frame(spark, np.arange(300), q), _frame(spark, ikeys, i), tie_keys


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


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_dispatch_follows_index_size(spark, sides):
    """Without index_count, knn_join sizes the index itself: this
    40-point index takes the join-free brute arm, grouped or not."""
    q, i, _ = sides

    assert "Join" not in _plan(KNN.knn_join(spark, q, i, 3))
    grouped = KNN.knn_join(
        spark, q.withColumn("g", q["key"] % 2),
        i.withColumn("g", i["key"] % 2), 3, group_col="g",
    )
    assert "Join" not in _plan(grouped)


def test_budget_fails_loudly(spark, sides, monkeypatch):
    q, i, _ = sides
    monkeypatch.setattr(KNN, "BROADCAST_POINT_BUDGET", 39)
    with pytest.raises(ValueError, match="broadcast budget"):
        KNN.knn_join_brute(q, i, 3)


# ---------------------------------------------------------------------
# group_col: each query ranks only the index points of its own group


@pytest.fixture(scope="module")
def grouped_sides(spark):
    """The 300 x 40 sides above plus an int group ``g`` and its string
    twin ``s``.  The six tie copies and the queries on them (and on
    their antipode) share group 1; query group 4 is absent from the
    index; each side has NULL-group rows."""
    rng, q, i, ikeys = _points()
    ig = pd.array(rng.integers(0, 4, 40), dtype="Int64")
    ig[TIE] = 1
    ig[[30, 31]] = pd.NA
    qg = pd.array(rng.integers(0, 5, 300), dtype="Int64")
    qg[:20] = 1
    qg[[40, 41, 42]] = pd.NA

    def groups(g):
        return {"g": g, "s": [None if pd.isna(x) else f"n{x}" for x in g]}

    return (
        _frame(spark, np.arange(300), q, **groups(qg)),
        _frame(spark, ikeys, i, **groups(ig)),
        sorted(ikeys[TIE].tolist()),
        pd.Series(ig).value_counts(),
    )


GROUPS = pytest.mark.parametrize("gcol", ["g", "s"])


def _both_grouped(spark, monkeypatch, op, q, i, k, gcol, **kw):
    """Brute and ring rows of one grouped search.  knn_join's arms are
    called directly; furthest_join reaches them through knn_join's
    dispatch, the ring arm with a cutoff no group fits under."""
    if op is KNN.knn_join:
        brute = KNN.knn_join_brute(q, i, k, group_col=gcol, **kw)
        rings = KNN.knn_join_rings(spark, q, i, k, group_col=gcol, **kw)
        assert brute.columns == rings.columns == [
            "key", gcol, "neighbor_key", "dist2", "rn",
        ]
    else:
        brute = op(spark, q, i, k, group_col=gcol, **kw)
        monkeypatch.setattr(KNN, "KNN_BRUTE_FORCE_MAX_INDEX", -1)
        rings = op(spark, q, i, k, group_col=gcol, **kw)
    assert "Join" not in _plan(brute)
    assert "Join" in _plan(rings)
    return _rows(brute), _rows(rings)


def _no_rows_for_null_or_absent_groups(rows, q):
    lost = {
        r["key"]
        for r in q.where("g IS NULL OR g = 4").select("key").collect()
    }
    assert lost and not lost & {r[0] for r in rows}


@GROUPS
@OPS
def test_grouped_tie_at_k_boundary(
    spark, grouped_sides, monkeypatch, op, gcol
):
    q, i, tie_keys, _ = grouped_sides
    brute, rings = _both_grouped(spark, monkeypatch, op, q, i, 3, gcol)
    assert brute == rings
    on_tie = range(0, 10) if op is KNN.knn_join else range(10, 20)
    want_d2 = 0.0 if op is KNN.knn_join else 4.0
    for key in on_tie:
        rows = [r for r in brute if r[0] == key]
        assert [r[1] for r in rows] == tie_keys[:3], key
        assert [r[2] for r in rows] == [want_d2] * 3, key
    _no_rows_for_null_or_absent_groups(brute, q)


@GROUPS
@OPS
def test_grouped_k_larger_than_group(
    spark, grouped_sides, monkeypatch, op, gcol
):
    q, i, _, sizes = grouped_sides
    brute, rings = _both_grouped(spark, monkeypatch, op, q, i, 45, gcol)
    assert brute == rings
    # every query with an index group gets that whole group, ranked
    qg = {r["key"]: r["g"] for r in q.select("key", "g").collect()}
    per_q = pd.Series([r[0] for r in brute]).value_counts()
    assert all(per_q[key] == sizes[qg[key]] for key in per_q.index)
    assert len(brute) == sum(
        sizes.get(g, 0) for g in qg.values() if g is not None
    )
    _no_rows_for_null_or_absent_groups(brute, q)


@OPS
def test_grouped_max_distance(spark, grouped_sides, monkeypatch, op):
    q, i, _, _ = grouped_sides
    brute, rings = _both_grouped(
        spark, monkeypatch, op, q, i, 5, "g", max_distance2=0.3
    )
    assert brute == rings
    per_q = np.bincount([r[0] for r in brute], minlength=300)
    assert 0 < per_q.max() <= 5


def test_grouped_dispatch_follows_largest_group(
    spark, grouped_sides, monkeypatch
):
    """knn_join's size rule reads the largest group, not the index
    total: at a cutoff equal to it the grouped search scans, one below
    it that group sends the search to the rings."""
    q, i, _, sizes = grouped_sides
    monkeypatch.setattr(KNN, "KNN_BRUTE_FORCE_MAX_INDEX", sizes.max())
    assert "Join" not in _plan(KNN.knn_join(spark, q, i, 3, group_col="g"))
    monkeypatch.setattr(KNN, "KNN_BRUTE_FORCE_MAX_INDEX", sizes.max() - 1)
    assert "Join" in _plan(KNN.knn_join(spark, q, i, 3, group_col="g"))


@pytest.mark.parametrize("chunk_pairs", [1, 1 << 16])
def test_closest_k_grouped_kernel(monkeypatch, chunk_pairs):
    """Driver-side check of the grouped kernel: every query's rows equal
    closest_k over its own group's index slice (an empty group, a
    one-point group, queries with no group), in query order."""
    from s2geometry_spark.kernels import closest_point as CP

    monkeypatch.setattr(CP, "CHUNK_PAIRS", chunk_pairs)
    rng = np.random.default_rng(3)
    q = rng.standard_normal((400, 3))
    i = rng.standard_normal((90, 3))
    i[30:33] = i[29]
    q[:5] = i[29]
    starts = np.cumsum([0, 0, 25, 1, 40, 24])
    group = rng.integers(-1, 5, 400)
    for k, bound in ((1, None), (2, None), (30, None), (4, 0.5)):
        counts, pos, d2 = CP.closest_k_grouped(
            *q.T, group, starts, *i.T, k, bound
        )
        at = 0
        for j, g in enumerate(group):
            if g < 0:
                want = (0, [], [])
            else:
                lo, hi = starts[g], starts[g + 1]
                c, p, d = CP.closest_k(*q[j:j + 1].T, *i[lo:hi].T, k, bound)
                want = (c[0], (p + lo).tolist(), d.tolist())
            got = (
                counts[j], pos[at:at + counts[j]].tolist(),
                d2[at:at + counts[j]].tolist(),
            )
            assert got == want, (k, j)
            at += counts[j]
        assert at == len(pos) == len(d2)
