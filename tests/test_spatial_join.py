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

    def test_salted_shuffle_path_same_result(self, spark, pts_df, pts_np):
        caps = R.synthetic_caps(range(12))
        broadcast = sorted(
            (r["key"], r["region_id"])
            for r in SJ.point_in_cap_join(spark, pts_df, caps).collect()
        )
        salted = sorted(
            (r["key"], r["region_id"])
            for r in SJ.point_in_cap_join(
                spark, pts_df, caps, broadcast=False, salt_k=4
            ).collect()
        )
        assert broadcast == salted

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


def _plan_nodes(df):
    """Physical plan nodes before AQE re-optimization."""
    out = []

    def walk(node):
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            return walk(node.initialPlan())
        out.append(node)
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_hot_covering_cell_auto_salts_the_shuffle_plan(spark, pts_df, pts_np):
    """The auto-salt branch of _resolve_plan: when at least
    HOT_CELL_SALT_THRESHOLD regions share one covering cell and the
    covering side is not broadcast, the shuffle join salts (covering
    rows replicated by a Generate, no broadcast) and returns exactly
    the broadcast plan's rows."""
    from s2geometry_spark.kernels.geom import Cap
    from s2geometry_spark.operators import coverings as COV

    _keys, unit = pts_np
    center = tuple(float(v) for v in unit[0])
    caps = [
        (rid, Cap(center, 1e-3 * (1 + rid / 100)))
        for rid in range(SJ.HOT_CELL_SALT_THRESHOLD)
    ] + R.synthetic_caps(range(100, 104))
    assert SJ._resolve_plan(COV.build_covering_rows(caps), False, 0) == (False, 8)

    def rows(df):
        return sorted((r["key"], r["region_id"]) for r in df.collect())

    conf = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(conf)
    # a covering too big to broadcast: no size-based broadcast either
    spark.conf.set(conf, "-1")
    try:
        salted = SJ.point_in_cap_join(spark, pts_df, caps, broadcast=False)
        nodes = _plan_nodes(salted)
        names = [n.getClass().getSimpleName() for n in nodes]
        gen_out = [
            [n.generatorOutput().apply(i).name()
             for i in range(n.generatorOutput().size())]
            for n in nodes if n.getClass().getSimpleName() == "GenerateExec"
        ]
        assert ["salt"] in gen_out
        assert "BroadcastHashJoinExec" not in names
        auto = SJ.point_in_cap_join(spark, pts_df, caps)
        auto_names = [n.getClass().getSimpleName() for n in _plan_nodes(auto)]
        assert "BroadcastHashJoinExec" in auto_names
        got, want = rows(salted), rows(auto)
    finally:
        spark.conf.set(conf, saved)
    assert got == want
    assert sum(1 for _, rid in got if rid < SJ.HOT_CELL_SALT_THRESHOLD) >= (
        SJ.HOT_CELL_SALT_THRESHOLD
    )


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
