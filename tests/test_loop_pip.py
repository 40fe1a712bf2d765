"""Point-in-loop (S2Loop) correctness: robust predicates, parity
kernels, coverer integration, and the distributed join vs three
independent oracles (numpy brute force, robust scalar path, DuckDB
SQL).  Mirrors the reference's brute-force-oracle strategy
(S2LoopTests / S2EdgeCrossingsTests approach, SURVEY.md §5)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.kernels import edges as E
from s2geometry_spark.kernels.loop import Loop, edge_chain_bound
from s2geometry_spark.operators import spatial_join as SJ
from s2geometry_spark.operators import tile as T
from s2geometry_spark.sources import points as P
from s2geometry_spark.sources import regions_src as R


def _unit(v):
    n = math.sqrt(sum(c * c for c in v))
    return tuple(c / n for c in v)


class TestSignPredicates:
    def test_sign_antisymmetry_and_consistency(self):
        rng = np.random.default_rng(42)
        pts = rng.normal(size=(60, 3))
        pts /= np.linalg.norm(pts, axis=1)[:, None]
        for _ in range(200):
            i, j, k = rng.choice(60, 3, replace=False)
            a, b, c = map(tuple, (pts[i], pts[j], pts[k]))
            s = E.sign(a, b, c)
            assert s in (-1, 1)
            # cyclic invariance + swap antisymmetry
            assert E.sign(b, c, a) == s
            assert E.sign(b, a, c) == -s

    def test_exact_sign_never_zero_for_distinct(self):
        # exactly collinear distinct points on the equator -> symbolic
        a = (1.0, 0.0, 0.0)
        b = (0.0, 1.0, 0.0)
        c = _unit((1.0, 1.0, 0.0))
        s = E.exact_sign(a, b, c)
        assert s in (-1, 1)
        assert E.exact_sign(a, b, c, perturb=False) == 0
        # consistency: reversing orientation flips the perturbed sign
        assert E.exact_sign(c, b, a) == -s

    def test_crossing_sign_basic(self):
        a, b = _unit((1, 0.1, 0)), _unit((1, -0.1, 0))
        c, d = _unit((1, 0, 0.1)), _unit((1, 0, -0.1))
        assert E.crossing_sign(a, b, c, d) == 1
        # shared vertex -> 0
        assert E.crossing_sign(a, b, a, d) == 0
        # disjoint -> -1
        e, f = _unit((0, 1, 0.1)), _unit((0, 1, -0.1))
        assert E.crossing_sign(a, b, e, f) == -1

    def test_ordered_ccw_rotation(self):
        o = (0.0, 0.0, 1.0)
        a = _unit((1, 0, 1))
        b = _unit((1, 1, 1))
        c = _unit((0, 1, 1))
        assert E.ordered_ccw(a, b, c, o)
        assert not E.ordered_ccw(c, b, a, o)


class TestLoopKernels:
    def test_origin_inside_bit(self):
        # small loop far from Origin: origin outside
        lp = Loop(R.loop_vertices(3))
        assert lp.origin_inside is False
        # loop around the Origin's location (near the north pole)
        o = E.ORIGIN
        u = E.ortho(o)
        v = E.cross(o, u)
        verts = []
        for k in range(6):
            th = 2 * math.pi * k / 6
            r = 0.2
            p = tuple(
                math.cos(r) * o[i]
                + math.sin(r) * (math.cos(th) * u[i] + math.sin(th) * v[i])
                for i in range(3)
            )
            verts.append(_unit(p))
        lp2 = Loop(np.array(verts))
        assert lp2.origin_inside is True
        assert lp2.contains_point(o)

    def test_fast_parity_equals_robust(self):
        keys = np.arange(1, 2001)
        px = np.array([P.MUL["x"] * k % P.MOD["x"] for k in keys]) / (P.MOD["x"] / 2.0) - 1.0
        py = np.array([P.MUL["y"] * k % P.MOD["y"] for k in keys]) / (P.MOD["y"] / 2.0) - 1.0
        pz = np.array([P.MUL["z"] * k % P.MOD["z"] for k in keys]) / (P.MOD["z"] / 2.0) - 1.0
        unit = np.stack([px, py, pz], axis=1)
        unit /= np.linalg.norm(unit, axis=1)[:, None]
        hits = 0
        for rid, lp in R.synthetic_loops(range(10)):
            fast = E.crossing_parity_fast(lp.verts, px, py, pz).astype(bool)
            fast ^= lp.origin_inside
            robust = lp.contains_points(unit)
            np.testing.assert_array_equal(fast, robust)
            hits += int(fast.sum())
        assert hits > 0

    def test_rect_bound_contains_boundary(self):
        for rid, lp in R.synthetic_loops(range(8)):
            # sample points along each edge: the bound must contain them
            n = len(lp.verts)
            for k in range(n):
                a, b = lp.verts[k], lp.verts[(k + 1) % n]
                for t in np.linspace(0, 1, 9):
                    p = _unit(tuple(a * (1 - t) + b * t))
                    lat = math.atan2(p[2], math.hypot(p[0], p[1]))
                    lng = math.atan2(p[1], p[0])
                    assert lp.bound.contains_ll(lat, lng)

    def test_pole_crossing_edge_bound(self):
        # an edge passing near the north pole must widen the lat bound
        a = _unit((0.01, 0, 1))
        b = _unit((-0.01, 0.001, 1))
        bound = edge_chain_bound(np.array([a, b]), closed=False)
        max_lat_edge = max(
            math.atan2(p[2], math.hypot(p[0], p[1])) for p in (a, b)
        )
        assert bound.lat.hi > max_lat_edge  # interior maximum captured

    def test_covering_covers_all_inside_points(self):
        from s2geometry_spark.kernels import cellid as CI
        from s2geometry_spark.kernels import cellunion as CU
        from s2geometry_spark.kernels.coverer import CovererOptions, RegionCoverer

        keys = np.arange(1, 2001)
        px = np.array([P.MUL["x"] * k % P.MOD["x"] for k in keys]) / (P.MOD["x"] / 2.0) - 1.0
        py = np.array([P.MUL["y"] * k % P.MOD["y"] for k in keys]) / (P.MOD["y"] / 2.0) - 1.0
        pz = np.array([P.MUL["z"] * k % P.MOD["z"] for k in keys]) / (P.MOD["z"] / 2.0) - 1.0
        unit = np.stack([px, py, pz], axis=1)
        unit /= np.linalg.norm(unit, axis=1)[:, None]
        leafs = CI.xyz_to_cellid(px, py, pz)
        for rid, lp in R.synthetic_loops(range(6)):
            cov = CU.normalize(
                RegionCoverer(CovererOptions(max_cells=8)).get_covering(lp)
            )
            inside = lp.contains_points(unit)
            for leaf, ok in zip(leafs.tolist(), inside.tolist()):
                if ok:
                    assert CU.contains_id(cov, int(leaf))


class TestLoopJoin:
    @pytest.fixture(scope="class")
    def pts_df(self, spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        pts = P.with_xyz(orders.select(F.col("o_orderkey").alias("key")))
        return T.assign_cellids(pts)

    def test_join_matches_brute_force(self, spark, pts_df):
        loops = R.synthetic_loops(range(25))
        got = sorted(
            (r["key"], r["region_id"])
            for r in SJ.point_in_loop_join(spark, pts_df, loops).collect()
        )
        pdf = pts_df.select("key", "x", "y", "z").toPandas()
        keys = pdf["key"].to_numpy()
        px, py, pz = (pdf[c].to_numpy() for c in ("x", "y", "z"))
        want = []
        for rid, lp in loops:
            inside = E.crossing_parity_fast(lp.verts, px, py, pz).astype(bool)
            inside ^= lp.origin_inside
            want.extend((int(k), rid) for k in keys[inside])
        assert got == sorted(want)
        assert len(got) > 0

    def test_shuffle_plan_same_result(self, spark, pts_df, shuffle_join_rows):
        loops = R.synthetic_loops(range(12))
        base = sorted(
            tuple(r) for r in SJ.point_in_loop_join(spark, pts_df, loops).collect()
        )
        shuffled = shuffle_join_rows(
            lambda: SJ.point_in_loop_join(spark, pts_df, loops)
        )
        assert base == shuffled

    def test_duckdb_oracle_agrees(self, spark, pts_df, sf_dir):
        import duckdb

        from s2geometry_spark.functions import duckdb_oracle as O

        loops = R.synthetic_loops(range(25))
        got = set(
            (r["key"], r["region_id"])
            for r in SJ.point_in_loop_join(spark, pts_df, loops).collect()
        )
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
        )
        sql = O.pip_loop_sql(
            P.xyz_sql_cte("orders", "o_orderkey"),
            R.loop_edges_sql_values(loops),
        )
        want = set(con.sql(sql).fetchall())
        assert got == want


class TestPolygonRobustContainment:
    """Polygon must use the same triage->exact containment kernel as
    Loop: the general-position fast kernel returns an arbitrary IEEE
    sign for points on (or within fp error of) a ring edge's great
    circle, so single-ring Polygon and Loop could disagree."""

    def test_polygon_matches_loop_on_vertices_and_edges(self):
        from s2geometry_spark.kernels.loop import Polygon

        for key in range(8):
            verts = R.loop_vertices(key)
            lp = Loop(verts)
            pg = Polygon([verts])
            # probes: the ring's own vertices, edge midpoints (points
            # exactly on the boundary's great circles), and a few
            # interior/exterior points
            probes = [tuple(map(float, v)) for v in verts]
            n = len(verts)
            for k in range(n):
                m = _unit(tuple(verts[k] + verts[(k + 1) % n]))
                probes.append(m)
            pts = np.asarray(probes, dtype=np.float64)
            got_pg = pg.contains_points(pts)
            got_lp = lp.contains_points(pts)
            assert (got_pg == got_lp).all()

    def test_polygon_with_hole_parity(self):
        from s2geometry_spark.kernels.loop import Polygon

        outer = R.loop_vertices(3)
        # shrink toward centroid for a nested inner ring; the class's
        # even-odd convention takes hole rings in the SAME (CCW)
        # orientation — parity flips once per enclosing ring
        c = _unit(tuple(outer.mean(axis=0)))
        inner = np.asarray(
            [_unit(tuple(0.3 * v + 0.7 * np.asarray(c))) for v in outer]
        )
        pg = Polygon([outer, inner])
        assert not pg.contains_point(c)  # inside the hole
        annulus = _unit(tuple(0.65 * outer[0] + 0.35 * np.asarray(c)))
        assert pg.contains_point(annulus)
        lo, li = Loop(outer), Loop(inner)
        rng = np.random.default_rng(11)
        raw = rng.normal(size=(256, 3))
        pts = raw / np.linalg.norm(raw, axis=1, keepdims=True)
        got = pg.contains_points(pts)
        want = lo.contains_points(pts) ^ li.contains_points(pts)
        assert (got == want).all()
