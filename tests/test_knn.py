"""kNN join correctness vs brute force (CheckDistanceResults-style
oracle, Utils/S2TestingCheckDistance.cs:3-60 approach: indexed path vs
exhaustive search must agree exactly, including tie order)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.operators import knn as KNN
from s2geometry_spark.operators import tile as T
from s2geometry_spark.sources import points as P


@pytest.fixture(scope="module")
def q_df(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return T.assign_cellids(
        P.with_xyz(orders.select(F.col("o_orderkey").alias("key")))
    )


@pytest.fixture(scope="module")
def idx_df(spark, sf_dir):
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return T.assign_cellids(
        P.with_xyz(sup.select(F.col("s_suppkey").alias("key")))
    )


def brute_force_knn(q_pdf, i_pdf, k):
    qv = q_pdf[["x", "y", "z"]].to_numpy()
    qv = qv / np.sqrt((qv * qv).sum(axis=1))[:, None]
    iv = i_pdf[["x", "y", "z"]].to_numpy()
    iv = iv / np.sqrt((iv * iv).sum(axis=1))[:, None]
    qk = q_pdf["key"].to_numpy()
    ik = i_pdf["key"].to_numpy()
    order_i = np.argsort(ik, kind="stable")
    out = []
    for qi in range(len(qk)):
        d = qv[qi][None, :] - iv
        dist2 = (d * d).sum(axis=1)
        # tie order: (dist2, neighbor_key)
        sel = sorted(range(len(ik)), key=lambda j: (dist2[j], ik[j]))[:k]
        for rn, j in enumerate(sel, start=1):
            out.append((int(qk[qi]), int(ik[j]), rn))
    return sorted(out)


def _knn_rows(df):
    """Result rows with dist2 compared bit for bit."""
    return sorted(tuple(r) for r in df.collect())


# knn_join dispatches a small index (the supplier table at small sf)
# to the brute-force arm; the ring arm is called directly where a test
# exercises ring behaviour (seed level, rounds, checkpoints, MaxError)
BOTH_ARMS = pytest.mark.parametrize(
    "join", [KNN.knn_join_rings, KNN.knn_join], ids=lambda f: f.__name__
)


class TestKnnJoin:
    @BOTH_ARMS
    def test_matches_brute_force(self, spark, q_df, idx_df, join):
        k = 3
        got = sorted(
            (r["key"], r["neighbor_key"], r["rn"])
            for r in join(spark, q_df, idx_df, k).collect()
        )
        want = brute_force_knn(
            q_df.select("key", "x", "y", "z").toPandas(),
            idx_df.select("key", "x", "y", "z").toPandas(),
            k,
        )
        assert got == want
        assert len(got) == q_df.count() * k

    def test_coarse_seed_level_same_result(self, spark, q_df, idx_df):
        """Seeding too fine forces multi-round expansion + fallback —
        result must be identical."""
        k = 2
        fine = sorted(
            (r["key"], r["neighbor_key"], r["rn"])
            for r in KNN.knn_join_rings(
                spark, q_df.limit(200), idx_df, k, seed_level=10
            ).collect()
        )
        auto = sorted(
            (r["key"], r["neighbor_key"], r["rn"])
            for r in KNN.knn_join_rings(
                spark, q_df.limit(200), idx_df, k
            ).collect()
        )
        assert fine == auto

    @BOTH_ARMS
    def test_k_larger_than_index(self, spark, q_df, idx_df, join):
        n_idx = idx_df.count()
        got = join(spark, q_df.limit(20), idx_df, n_idx + 5)
        per_q = (
            got.groupBy("key").count().select("count").distinct().collect()
        )
        assert [r["count"] for r in per_q] == [n_idx]


def test_ring_guarantee_is_near_chord2_of_min_width():
    """The ring loop's per-round guarantee, ``near_chord2`` of
    kMinWidth(level), is bit-equal to 4 sin^2(r / 2) on every level:
    each kMinWidth is below pi, so near_chord2's clamps never bite."""
    import math

    from s2geometry_spark.constants import KMIN_WIDTH
    from s2geometry_spark.operators.spatial_join import near_chord2

    for level in range(31):
        r = KMIN_WIDTH.get_value(level)
        assert 0 < r < math.pi
        s = math.sin(0.5 * r)
        assert near_chord2(r).hex() == (4 * s * s).hex(), level


@pytest.mark.parametrize("chunk_pairs", [1, 37 * 60, 1 << 16])
def test_closest_k_kernel_matches_brute_force(monkeypatch, chunk_pairs):
    """Driver-side check of the brute arm's kernel against the
    exhaustive oracle above: raw (non-unit) directions, index keys out
    of order, and five copies of one point under different keys so the
    k boundary falls inside the tie for queries on that point; chunks
    of one query, 37 queries, and the whole batch."""
    import pandas as pd

    from s2geometry_spark.kernels import closest_point as CP

    monkeypatch.setattr(CP, "CHUNK_PAIRS", chunk_pairs)

    rng = np.random.default_rng(11)
    q = rng.standard_normal((400, 3)) * rng.uniform(0.5, 3.0, (400, 1))
    i = rng.standard_normal((60, 3))
    i[10:14] = i[3]
    q[:20] = i[3]
    ikeys = rng.permutation(1000)[:60]
    q_pdf = pd.DataFrame(
        {"key": np.arange(400), "x": q[:, 0], "y": q[:, 1], "z": q[:, 2]}
    )
    i_pdf = pd.DataFrame(
        {"key": ikeys, "x": i[:, 0], "y": i[:, 1], "z": i[:, 2]}
    )
    # kernel inputs: unit vectors in the oracle's (and normalized_cols')
    # expression order, index sorted by key
    qu = q / np.sqrt((q * q).sum(axis=1))[:, None]
    order = np.argsort(ikeys, kind="stable")
    iu = (i / np.sqrt((i * i).sum(axis=1))[:, None])[order]
    for k in (1, 3, 7, 60, 65):
        counts, pos, _ = CP.closest_k(*qu.T, *iu.T, k)
        assert counts.tolist() == [min(k, 60)] * 400
        qk = np.repeat(np.arange(400), counts)
        rn = np.arange(len(pos)) - np.repeat(np.cumsum(counts) - counts, counts)
        got = sorted(
            zip(qk.tolist(), ikeys[order][pos].tolist(), (rn + 1).tolist())
        )
        assert got == brute_force_knn(q_pdf, i_pdf, k), k


@pytest.fixture(scope="module")
def nation_sides(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    a = P.with_xyz(
        cust.select(
            F.col("c_custkey").alias("key"),
            F.col("c_nationkey").alias("grp"),
        )
    )
    b = P.with_xyz(
        sup.select(
            F.col("s_suppkey").alias("key"),
            F.col("s_nationkey").alias("grp"),
        )
    )
    return a, b


def _ring_hausdorff(spark, a, b):
    """Directed Hausdorff per group as the max over the ring arm's
    grouped k=1 search."""
    nn = KNN.knn_join_rings(
        spark, T.assign_cellids(a), T.assign_cellids(b), 1, group_col="grp"
    )
    return {
        r["grp"]: r["h2"]
        for r in nn.groupBy("grp").agg(F.max("dist2").alias("h2")).collect()
    }


class TestHausdorffKnnPath:
    def test_knn_path_matches_broadcast(self, spark, nation_sides):
        """hausdorff_directed (knn_join's grouped brute-force arm on
        this index) equals the max over the ring arm's grouped search,
        bit for bit."""
        a, b = nation_sides
        got = {
            r["grp"]: r["hausdorff2"]
            for r in KNN.hausdorff_directed(a, b).collect()
        }
        assert got == _ring_hausdorff(spark, a, b)

    def test_auto_switch_uses_knn_for_large_b(self, spark, nation_sides):
        """Both passes of hausdorff_undirected, the reverse one searching
        the larger customer side, equal the ring arm's maxes."""
        a, b = nation_sides
        ab = _ring_hausdorff(spark, a, b)
        ba = _ring_hausdorff(spark, b, a)
        got = {
            r["grp"]: (r["hausdorff2"], r["undirected2"])
            for r in KNN.hausdorff_undirected(a, b).collect()
        }
        assert got == {g: (ab[g], max(ab[g], ba[g])) for g in ab}


class TestCheckpointedRounds:
    """Cluster-safe mode: per-round durable stages
    (plans.checkpoint) replace localCheckpoint, so a kNN query killed
    between rounds resumes from the last completed round."""

    def test_checkpointed_matches_and_resumes(
        self, spark, q_df, idx_df, tmp_path
    ):
        import os

        k = 2
        cpdir = str(tmp_path / "knn_cp")
        plain = sorted(
            (r["key"], r["neighbor_key"], r["rn"])
            for r in KNN.knn_join_rings(spark, q_df, idx_df, k).collect()
        )
        first = sorted(
            (r["key"], r["neighbor_key"], r["rn"])
            for r in KNN.knn_join_rings(
                spark, q_df, idx_df, k, checkpoint_dir=cpdir
            ).collect()
        )
        assert first == plain

        stage_dirs = sorted(
            d for d in os.listdir(cpdir) if d.startswith("knn_")
        )
        assert "knn_q" in stage_dirs and "knn_r0_ranked" in stage_dirs
        meta0 = os.path.join(cpdir, "knn_r0_ranked", "_meta.json")
        mtime0 = os.path.getmtime(meta0)

        # simulate a kill between rounds: later-round outputs lost,
        # round 0 survives
        import shutil

        for d in stage_dirs:
            if d.startswith("knn_r") and not d.startswith("knn_r0"):
                shutil.rmtree(os.path.join(cpdir, d))
        second = sorted(
            (r["key"], r["neighbor_key"], r["rn"])
            for r in KNN.knn_join_rings(
                spark, q_df, idx_df, k, checkpoint_dir=cpdir
            ).collect()
        )
        assert second == plain
        # round 0 was resumed, not recomputed
        assert os.path.getmtime(meta0) == mtime0

    def test_abort_midway_resumes_bit_equal(
        self, spark, q_df, idx_df, tmp_path, monkeypatch
    ):
        """A run that dies inside round 1 (after round 0 committed)
        resumes from round 0: the re-run returns the un-checkpointed
        rows with dist2 bit-equal, and rewrites no committed stage."""
        import json
        import os

        from s2geometry_spark.plans.checkpoint import CheckpointedPipeline

        k, level = 2, 10
        cpdir = str(tmp_path / "knn_cp")
        plain = _knn_rows(
            KNN.knn_join_rings(spark, q_df, idx_df, k, seed_level=level)
        )

        real_stage = CheckpointedPipeline.stage

        def dying_stage(self, name, *a, **kw):
            if name == "knn_r1_ranked":
                raise RuntimeError("killed in round 1")
            return real_stage(self, name, *a, **kw)

        monkeypatch.setattr(CheckpointedPipeline, "stage", dying_stage)
        with pytest.raises(RuntimeError, match="killed in round 1"):
            KNN.knn_join_rings(
                spark, q_df, idx_df, k, seed_level=level,
                checkpoint_dir=cpdir,
            ).collect()
        monkeypatch.setattr(CheckpointedPipeline, "stage", real_stage)

        committed = sorted(
            d for d in os.listdir(cpdir)
            if d in ("knn_q", "knn_idx") or d.startswith("knn_r0_")
        )
        assert committed == [
            "knn_idx", "knn_q", "knn_r0_done", "knn_r0_ranked",
            "knn_r0_unfinished",
        ]
        assert not any(d.startswith("knn_r1_") for d in os.listdir(cpdir))
        with open(os.path.join(cpdir, "knn_r0_unfinished", "_meta.json")) as fh:
            assert json.load(fh)["rows"] > 0  # round 1 had work to do

        def meta_stat(d):
            st = os.stat(os.path.join(cpdir, d, "_meta.json"))
            return st.st_ino, st.st_mtime_ns, st.st_size

        before = {d: meta_stat(d) for d in committed}
        resumed = _knn_rows(
            KNN.knn_join_rings(
                spark, q_df, idx_df, k, seed_level=level,
                checkpoint_dir=cpdir,
            )
        )
        assert resumed == plain
        assert {d: meta_stat(d) for d in committed} == before

    def test_passed_in_count_skips_sampling(self, spark, q_df, idx_df):
        k = 2
        got = sorted(
            (r["key"], r["neighbor_key"], r["rn"])
            for r in KNN.knn_join_rings(
                spark, q_df, idx_df, k, index_count=idx_df.count()
            ).collect()
        )
        want = sorted(
            (r["key"], r["neighbor_key"], r["rn"])
            for r in KNN.knn_join_rings(spark, q_df, idx_df, k).collect()
        )
        assert got == want


def test_closest_polygon_interior_shortcut(spark):
    """S2ClosestEdgeQueryBase.cs:224-238 (VisitContainingShapes): a
    query point inside an indexed polygon is at distance 0 exactly;
    exterior points get the brute-force min edge distance."""
    import numpy as np
    import pandas as pd

    from s2geometry_spark.kernels import edges as KE
    from s2geometry_spark.kernels import polyline as PL
    from s2geometry_spark.operators.knn import closest_polygon
    from s2geometry_spark.sources import regions_src as R

    loops = R.synthetic_loops(range(6))
    # probe points: each loop's center (interior) + far-away points
    probes = []
    for rid, lp in loops:
        c = np.asarray(lp.verts).mean(axis=0)
        probes.append((100 + rid, c / np.linalg.norm(c)))
    rng = np.random.default_rng(7)
    for j in range(20):
        v = rng.standard_normal(3)
        probes.append((200 + j, v / np.linalg.norm(v)))
    pdf = pd.DataFrame(
        [(k, float(p[0]), float(p[1]), float(p[2])) for k, p in probes],
        columns=["key", "x", "y", "z"],
    )
    got = {
        r["key"]: (r["region_id"], r["dist2"])
        for r in closest_polygon(
            spark.createDataFrame(pdf), loops
        ).collect()
    }
    for key, p in probes:
        # brute force with the same kernels, after mirroring
        # normalized_cols' exact IEEE expression (x / sqrt(x*x+y*y+z*z)
        # left-to-right) so no cross-path ulp skew enters
        import math as _math

        x, y, z = (float(v) for v in p)
        r = _math.sqrt(x * x + y * y + z * z)
        best = (np.inf, -1)
        px, py, pz = (np.array([v / r]) for v in (x, y, z))
        for rid, lp in loops:
            verts = np.asarray(lp.verts)
            inside = bool(
                (KE.crossing_parity_fast(verts, px, py, pz)
                 ^ int(lp.origin_inside))[0]
            )
            if inside:
                d2 = 0.0
            else:
                d2 = np.inf
                n = len(verts)
                for k in range(n):
                    a = tuple(map(float, verts[k]))
                    b = tuple(map(float, verts[(k + 1) % n]))
                    d2 = min(d2, float(
                        PL.edge_distance2_batch(px, py, pz, a, b)[0]
                    ))
            if (d2, rid) < best:
                best = (d2, rid)
        want = (best[1], best[0])
        assert got[key][0] == want[0], key
        assert got[key][1] == want[1], key
    # the loop centers must all be exact zeros (interior shortcut)
    for rid, _ in loops:
        assert got[100 + rid] == (rid, 0.0)


class TestMaxError:
    """Options.MaxError semantics (S2ClosestEdgeQueryBase.cs:69-120):
    with tolerance e, each reported rank-r distance may exceed the true
    rank-r distance by < e; with e=0 the search is exact."""

    def test_zero_tolerance_is_exact(self, spark, q_df, idx_df):
        k = 3
        got = sorted(
            (r["key"], r["neighbor_key"], r["rn"])
            for r in KNN.knn_join(
                spark, q_df, idx_df, k, max_error2=0.0
            ).collect()
        )
        want = brute_force_knn(
            q_df.select("key", "x", "y", "z").toPandas(),
            idx_df.select("key", "x", "y", "z").toPandas(),
            k,
        )
        assert got == want

    def test_rankwise_error_bound(self, spark, q_df, idx_df):
        """Force multi-round expansion (fine seed) with a large
        tolerance so early termination actually engages, then assert
        the rank-wise bound against brute-force distances."""
        k, e = 3, 1e-4
        got = KNN.knn_join_rings(
            spark, q_df, idx_df, k, seed_level=10, max_error2=e
        ).collect()
        q_pdf = q_df.select("key", "x", "y", "z").toPandas()
        i_pdf = idx_df.select("key", "x", "y", "z").toPandas()
        qv = q_pdf[["x", "y", "z"]].to_numpy()
        qv = qv / np.sqrt((qv * qv).sum(axis=1))[:, None]
        iv = i_pdf[["x", "y", "z"]].to_numpy()
        iv = iv / np.sqrt((iv * iv).sum(axis=1))[:, None]
        true_kth = {}
        for qi, key in enumerate(q_pdf["key"].to_numpy()):
            d = qv[qi][None, :] - iv
            dist2 = np.sort((d * d).sum(axis=1))
            true_kth[int(key)] = dist2[:k]
        by_q = {}
        for r in got:
            by_q.setdefault(r["key"], []).append((r["rn"], r["dist2"]))
        assert set(by_q) == set(true_kth)
        for key, rows in by_q.items():
            rows.sort()
            assert len(rows) == k
            for (rn, d2), true_d2 in zip(rows, true_kth[key]):
                assert d2 <= true_d2 + e, (key, rn, d2, true_d2)

    def test_edge_join_error_bound_and_exactness(self, spark):
        """closest_edge_join: e=0 matches the broadcast-exact arm;
        a loose tolerance still satisfies the rank-1 bound."""
        import pandas as pd

        from s2geometry_spark.sources import regions_src as R

        rng = np.random.default_rng(3)
        v = rng.standard_normal((300, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        pts = T.assign_cellids(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "key": np.arange(300),
                        "x": v[:, 0], "y": v[:, 1], "z": v[:, 2],
                    }
                )
            )
        )
        edges = spark.createDataFrame(
            pd.DataFrame(
                [
                    (lid, eid, a[0], a[1], a[2], b[0], b[1], b[2])
                    for lid, eid, a, b in R.polyline_edges(range(12))
                ],
                columns=[
                    "line_id", "edge_idx",
                    "ax", "ay", "az", "bx", "by", "bz",
                ],
            )
        )
        idx = KNN.edge_covering_index(edges, 7)
        exact = {
            r["key"]: r["dist2"]
            for r in KNN.closest_edge_join(
                spark, pts, idx, index_level=7, k=1
            ).collect()
        }
        e = 1e-4
        approx = {
            r["key"]: r["dist2"]
            for r in KNN.closest_edge_join(
                spark, pts, idx, index_level=7, k=1, max_error2=e
            ).collect()
        }
        assert set(approx) == set(exact)
        for key, d2 in approx.items():
            assert d2 <= exact[key] + e


def test_empty_query_side_returns_typed_empty(spark, q_df, idx_df):
    """An empty query side must yield a typed empty result, not an
    IndexError from an empty finished-parts list."""
    out = KNN.knn_join(spark, q_df.limit(0), idx_df, 3)
    assert out.columns == ["key", "neighbor_key", "dist2", "rn"]
    assert out.count() == 0


# ---------------------------------------------------------------------
# The residual all-index pass after the last ring round: max_rounds=0
# sends every query there, max_rounds=1 with a fine seed level leaves
# most queries open after round 0.  Rows must equal the exact arms with
# dist2 bit-equal.
# ---------------------------------------------------------------------

# kMinWidth(4) chord2 is ~3.5e-3, far below the typical 3rd-neighbor
# chord2 (~0.02 over the ~500-point index), so round 0 finishes few
# queries; the bound sits below that round-0 guarantee
RESIDUAL_SEED = 4
RESIDUAL_BOUND = 3e-3
EDGE_LEVEL = 7


@pytest.fixture(scope="module")
def residual_sides(q_df):
    key = F.col("key")
    q = q_df.where(key % 7 == 0).withColumn("grp", key % 2).localCheckpoint()
    i = q_df.where(key % 3 == 1).withColumn("grp", key % 2).localCheckpoint()
    return q, i


def _point_exact(q, i, k, group, bound):
    if not group:
        return _knn_rows(
            KNN.knn_join_brute(q, i, k, max_distance2=bound)
        )
    rows = []
    for g in sorted(r["grp"] for r in q.select("grp").distinct().collect()):
        part = KNN.knn_join_brute(
            q.where(F.col("grp") == g), i.where(F.col("grp") == g), k,
            max_distance2=bound,
        )
        rows += [(r[0], g, *r[1:]) for r in part.collect()]
    return sorted(rows)


def _edge_exact(q, lines, k):
    """Per-line min edge distance with the broadcast arm's kernel over
    the JVM-normalized points, ranked by (dist2, line_id)."""
    from s2geometry_spark.kernels import polyline as PL
    from s2geometry_spark.operators.spatial_join import normalized_cols

    pts = normalized_cols(q).select("key", "ux", "uy", "uz").collect()
    px, py, pz = (np.array([r[c] for r in pts]) for c in ("ux", "uy", "uz"))
    per_line = []
    for lid, edges in lines:
        d2 = np.full(len(pts), np.inf)
        for a, b in edges:
            d2 = np.minimum(d2, PL.edge_distance2_batch(px, py, pz, a, b))
        per_line.append((lid, d2))
    out = []
    for j, r in enumerate(pts):
        ranked = sorted((float(d2[j]), lid) for lid, d2 in per_line)
        out += [
            (r["key"], lid, d2, rn)
            for rn, (d2, lid) in enumerate(ranked[:k], 1)
        ]
    return sorted(out)


@pytest.mark.parametrize("max_rounds", [0, 1])
@pytest.mark.parametrize(
    "case", ["plain", "group", "bounded", "edge_k1", "edge_k3"]
)
def test_residual_pass_matches_exact_arms(
    spark, residual_sides, case, max_rounds
):
    from s2geometry_spark.sources import regions_src as R

    q, i = residual_sides
    group = case == "group"
    if not group:
        q, i = q.drop("grp"), i.drop("grp")
    if case.startswith("edge"):
        k = int(case[-1])
        edge_rows = R.polyline_edges(range(12))
        edges = spark.createDataFrame(
            [(lid, eid, *a, *b) for lid, eid, a, b in edge_rows],
            "line_id long, edge_idx long, ax double, ay double, az double, "
            "bx double, by double, bz double",
        )
        got = _knn_rows(
            KNN.closest_edge_join(
                spark, q, KNN.edge_covering_index(edges, EDGE_LEVEL),
                index_level=EDGE_LEVEL, k=k, seed_level=EDGE_LEVEL,
                max_rounds=max_rounds,
            )
        )
        lines = {}
        for lid, _eid, a, b in edge_rows:
            lines.setdefault(lid, []).append((a, b))
        lines = sorted(lines.items())
        want = _edge_exact(q, lines, k)
        if k == 1:
            assert want == sorted(
                (*r, 1) for r in KNN.closest_polyline(q, lines).collect()
            )
        assert got == want
        return

    k = 3
    bound = RESIDUAL_BOUND if case == "bounded" else None
    got = _knn_rows(
        KNN.knn_join_rings(
            spark, q, i, k, seed_level=RESIDUAL_SEED, max_rounds=max_rounds,
            group_col="grp" if group else None, max_distance2=bound,
        )
    )
    want = _point_exact(q, i, k, group, bound)
    assert got == want
    per_q = {}
    for r in want:
        per_q[r[0]] = per_q.get(r[0], 0) + 1
    if bound is None:
        assert set(per_q.values()) == {k}
    else:
        # the bound cuts some queries short and leaves others whole
        assert min(per_q.values()) < k and k in per_q.values()
