"""Spatial-join correctness vs brute force (FIXTURES.md §3 pip_pairs:
'the bit-identical gate vs brute-force oracle')."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.kernels import cellid as CI
from s2geometry_spark.operators import spatial_join as SJ
from s2geometry_spark.operators import tile as T
from s2geometry_spark.sources import points as P
from s2geometry_spark.sources import regions_src as R


@pytest.fixture(scope="module")
def pts_df(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pts = P.with_xyz(orders.select(F.col("o_orderkey").alias("key")))
    return T.assign_cellids(pts)


@pytest.fixture(scope="module")
def pts_np(pts_df):
    pdf = pts_df.select("key", "x", "y", "z").toPandas()
    v = pdf[["x", "y", "z"]].to_numpy()
    n = np.sqrt((v * v).sum(axis=1))
    return pdf["key"].to_numpy(), v / n[:, None]


def brute_force_cap_pairs(keys, unit, caps):
    out = []
    for rid, cap in caps:
        c = np.array(cap.center)
        d = unit - c
        chord2 = np.minimum((d * d).sum(axis=1), 4.0)
        hit = chord2 <= cap.radius2
        out.extend((int(k), rid) for k in keys[hit])
    return sorted(out)


class TestCapJoin:
    def test_matches_brute_force(self, spark, pts_df, pts_np):
        caps = R.synthetic_caps(range(40))
        got = sorted(
            (r["key"], r["region_id"])
            for r in SJ.point_in_cap_join(spark, pts_df, caps).collect()
        )
        keys, unit = pts_np
        want = brute_force_cap_pairs(keys, unit, caps)
        assert got == want
        assert len(got) > 0

    def test_shuffle_plan_same_result(
        self, spark, pts_df, pts_np, shuffle_join_rows
    ):
        """The shuffle join (covering above the broadcast threshold)
        returns the broadcast plan's rows, with 16 caps sharing one
        covering cell (a hot cell) among them."""
        from s2geometry_spark.kernels.geom import Cap

        _keys, unit = pts_np
        center = tuple(float(v) for v in unit[0])
        hot = [(1000 + i, Cap(center, 1e-3 * (1 + i / 100))) for i in range(16)]
        caps = R.synthetic_caps(range(12)) + hot
        auto = SJ.point_in_cap_join(spark, pts_df, caps)
        plan = auto._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        want = sorted(tuple(r) for r in auto.collect())
        got = shuffle_join_rows(lambda: SJ.point_in_cap_join(spark, pts_df, caps))
        assert got == want
        assert sum(1 for _, rid in got if rid >= 1000) >= len(hot)

    def test_semi_and_anti(self, spark, pts_df):
        caps = R.synthetic_caps(range(12))
        n_total = pts_df.count()
        inside = SJ.point_in_cap_semi(spark, pts_df, caps).count()
        outside = SJ.point_in_cap_semi(spark, pts_df, caps, anti=True).count()
        assert inside + outside == n_total
        assert inside > 0


class TestRectContainment:
    def test_rect_region_covering_pip(self, spark, pts_np):
        """Rect containment via coverer + driver-side check against
        numpy brute force (rects aren't SQL-oracle'd; this is their
        gate)."""
        from s2geometry_spark.kernels import cellunion as CU
        from s2geometry_spark.kernels.coverer import CovererOptions, RegionCoverer

        keys, unit = pts_np
        lat = np.degrees(np.arctan2(unit[:, 2], np.hypot(unit[:, 0], unit[:, 1])))
        lon = np.degrees(np.arctan2(unit[:, 1], unit[:, 0]))
        leafs = CI.ll_to_cellid(lat, lon)
        for rid, rect in R.synthetic_rects(range(8)):
            rc = RegionCoverer(CovererOptions(max_cells=24))
            cov = CU.normalize(rc.get_covering(rect))
            inside_bf = np.array(
                [
                    rect.contains_ll(np.radians(la), np.radians(lo))
                    for la, lo in zip(lat, lon)
                ]
            )
            # covering must contain every inside point's leaf cell
            for leaf, ok in zip(leafs.tolist(), inside_bf.tolist()):
                if ok:
                    assert CU.contains_id(cov, int(leaf))


def _events_dir(sf_dir, tmp_path):
    """File-stream sources need a directory; link the events parquet
    into one."""
    import os

    d = tmp_path / "events"
    d.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_empty_region_lists_yield_empty_results(spark, sf_dir, tmp_path):
    """caps=[]/loops=[]/polylines=[] must return a valid empty frame,
    not crash schema inference on an empty pandas frame."""
    from pyspark.sql import functions as F2

    from s2geometry_spark.operators import shape_index as SI
    from s2geometry_spark.operators import spatial_join as SJ
    from s2geometry_spark.operators import term_join as TJ
    from s2geometry_spark.operators import tile as T
    from s2geometry_spark.sources import points as P
    from s2geometry_spark.streaming import route_stream as RS
    from s2geometry_spark.streaming import tile_stream as TS

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(50)
    raw = P.with_xyz(orders.select(F2.col("o_orderkey").alias("key")))
    pts = T.assign_cellids(raw)
    assert SJ.point_in_cap_join(spark, pts, []).count() == 0
    assert SJ.point_in_cap_range_join(spark, pts, []).count() == 0
    assert SJ.point_in_loop_join(spark, pts, []).count() == 0
    assert SJ.point_near_loop_join(spark, pts, [], 0.1).count() == 0
    assert SJ.point_near_polyline_join(spark, pts, [], 0.1).count() == 0
    assert SJ.label_range_join(spark, pts, []).count() == 0
    assert SI.point_in_loop_index_join(spark, pts, []).count() == 0
    assert TJ.term_index_cap_join(spark, pts, []).count() == 0
    pts_dir = str(tmp_path / "pts")
    raw.select("key", "x", "y", "z").write.parquet(pts_dir)
    assert RS.batch_route_matches(spark, pts_dir, [], 0.1).count() == 0
    events = _events_dir(sf_dir, tmp_path)
    assert TS.batch_region_counts(spark, events, []).count() == 0


def test_tile_stream_runs_the_coverer_once_per_cap(
    spark, sf_dir, tmp_path, monkeypatch
):
    """One RegionCoverer run per cap per stream/batch plan: the
    covering rows that pick the plan are the rows that are joined."""
    from s2geometry_spark.kernels.coverer import RegionCoverer
    from s2geometry_spark.streaming import tile_stream as TS

    calls = []
    get_covering = RegionCoverer.get_covering

    def counted(self, region):
        calls.append(region)
        return get_covering(self, region)

    monkeypatch.setattr(RegionCoverer, "get_covering", counted)
    caps = R.synthetic_caps(range(7))
    TS.batch_region_counts(spark, _events_dir(sf_dir, tmp_path), caps)
    assert len(calls) == len(caps)


@pytest.mark.parametrize("radius", [-0.01, float("nan")])
def test_near_joins_reject_negative_or_nan_radius(
    spark, pts_df, radius, monkeypatch
):
    """The buffered covering clamps a negative radius to 0 while the
    refine's sin^2 turns -r into +r, so the two halves of a near join
    would disagree: both near joins refuse such a radius before any
    coverer runs."""
    from s2geometry_spark.kernels import buffered_region as BR

    def no_cover(*_args, **_kw):
        raise AssertionError("the coverer ran")

    monkeypatch.setattr(BR, "buffered_loop_covering", no_cover)
    monkeypatch.setattr(BR, "buffered_polyline_covering", no_cover)
    loops = R.synthetic_loops(range(2))
    lines = [(k, R.polyline_vertices(k)) for k in range(2)]
    with pytest.raises(ValueError, match="radius"):
        SJ.point_near_loop_join(spark, pts_df, loops, radius)
    with pytest.raises(ValueError, match="radius"):
        SJ.point_near_polyline_join(spark, pts_df, lines, radius)


def test_vectorized_cover_rows_match_scalar_kernels():
    """Covering and range frames convert cell ids with one numpy call
    each; the per-cell scalar kernels are the reference.  The south
    polar cap puts face-5 cells (ids >= 2^63) in both frames."""
    from s2geometry_spark.kernels import cellunion as CU
    from s2geometry_spark.kernels.coverer import RegionCoverer
    from s2geometry_spark.kernels.geom import Cap

    caps = R.synthetic_caps(range(30)) + [(99, Cap((0.0, 0.0, -1.0), 1e-2))]
    covs = [(rid, RegionCoverer().get_covering(cap)) for rid, cap in caps]
    got = SJ._normalized_cover_rows("region_id", covs)
    want = [
        (rid, int(CI.as_i64(np.array([c], np.uint64))[0]), CU._level(c))
        for rid, cov in covs
        for c in CU.normalize(cov)
    ]
    assert list(got.itertuples(index=False, name=None)) == want
    assert any(cell < 0 for _, cell, _ in want)
    ranges = [
        (rid, lo, hi)
        for rid, cov in covs
        for lo, hi in CU.leaf_ranges(CU.normalize(cov))
    ]
    got = SJ._biased_bounds(pd.DataFrame(ranges, columns=["region_id", "lo", "hi"]))

    def bias(c):
        return int(CI.bias(np.array([c], np.uint64))[0])

    want = [(rid, bias(lo), bias(hi)) for rid, lo, hi in ranges]
    assert list(got.itertuples(index=False, name=None)) == want
