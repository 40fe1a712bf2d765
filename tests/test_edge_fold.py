"""The one point-to-edges distance fold, the region distance built on
it, the per-region batch split, and the one radius -> chord² bound.

Each fold case checks bit-equality (``.hex()``) against an
independent per-edge ``edge_distance2_batch`` min and that every edge
is the argmin for some probe, so a fold that skipped any edge fails.
"""

from __future__ import annotations

import math
import pathlib
import re

import numpy as np
import pandas as pd
import pytest

from s2geometry_spark.functions.udfs import split_by_region
from s2geometry_spark.kernels import edges as E
from s2geometry_spark.kernels import polyline as PL
from s2geometry_spark.kernels.geom import clamped_chord2
from s2geometry_spark.operators.spatial_join import near_chord2
from s2geometry_spark.sources import regions_src as R

REPO = pathlib.Path(__file__).resolve().parent.parent


def _probes(verts, n=4000, spread=0.05, seed=3):
    """Unit points scattered around a shape's vertices."""
    rng = np.random.default_rng(seed)
    v = np.asarray(verts, dtype=float)
    P = v[rng.integers(0, len(v), n)] + spread * rng.standard_normal((n, 3))
    P /= np.linalg.norm(P, axis=1)[:, None]
    return P[:, 0], P[:, 1], P[:, 2]


def _per_edge(px, py, pz, edges):
    """(min over edges, argmin edge) straight from the per-edge kernel."""
    d = np.stack([PL.edge_distance2_batch(px, py, pz, a, b) for a, b in edges])
    return d.min(axis=0), d.argmin(axis=0)


def _hex(a):
    return [float(x).hex() for x in a]


def _shapes():
    loop = R.synthetic_loops([7])[0][1]
    poly = R.synthetic_polygons([4])[0][1]
    chain = R.polyline_vertices(11)
    return {
        "open_chain": (PL.chain_edges(chain), chain),
        "closed_loop": (PL.chain_edges(loop.verts, closed=True), loop.verts),
        "two_ring_polygon": (
            PL.float_edges(poly.edges),
            np.concatenate([lp.verts for lp in poly.loops]),
        ),
    }


@pytest.mark.parametrize("name", ["open_chain", "closed_loop", "two_ring_polygon"])
def test_fold_is_the_per_edge_min(name):
    edges, verts = _shapes()[name]
    px, py, pz = _probes(verts)
    want, arg = _per_edge(px, py, pz, edges)
    assert _hex(PL.edges_min_distance2(px, py, pz, edges)) == _hex(want)
    # every edge wins somewhere, so dropping any one changes the fold
    assert set(arg.tolist()) == set(range(len(edges)))


def test_chain_edges_open_and_closed():
    v = [(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0)]
    assert PL.chain_edges(np.array(v)) == [(v[0], v[1]), (v[1], v[2])]
    assert PL.chain_edges(v, closed=True) == [
        (v[0], v[1]), (v[1], v[2]), (v[2], v[0])
    ]
    assert PL.float_edges([(np.array(v[0]), v[1])]) == [(v[0], v[1])]
    assert all(
        type(x) is float for a, b in PL.chain_edges(np.array(v)) for x in a + b
    )


def test_fold_degenerate_edge_and_empty_batch():
    a = PL.chain_edges([(1.0, 0.0, 0.0)])  # one vertex: no edges
    assert a == []
    p = (0.0, 0.6, 0.8)
    edges = [(p, p), ((1.0, 0.0, 0.0), (0.0, 0.0, 1.0))]
    px, py, pz = _probes([p, (1.0, 0.0, 0.0), (0.0, 0.0, 1.0)], spread=0.3)
    want, arg = _per_edge(px, py, pz, edges)
    got = PL.edges_min_distance2(px, py, pz, edges)
    assert _hex(got) == _hex(want)
    assert set(arg.tolist()) == {0, 1}
    # a == b is the plain point distance
    d_pt = (px - p[0]) ** 2 + (py - p[1]) ** 2 + (pz - p[2]) ** 2
    assert _hex(np.minimum(d_pt, PL.edge_distance2_batch(px, py, pz, *edges[1]))) == _hex(got)
    empty = np.zeros(0)
    assert PL.edges_min_distance2(empty, empty, empty, edges).shape == (0,)
    assert PL.region_distance2(empty, empty, empty, edges, True).shape == (0,)
    assert np.isinf(PL.edges_min_distance2(px, py, pz, [])).all()


@pytest.mark.parametrize("name", ["closed_loop", "two_ring_polygon"])
def test_region_distance_is_zero_inside_and_the_fold_outside(name):
    edges, verts = _shapes()[name]
    shape = (R.synthetic_loops([7]) if name == "closed_loop" else R.synthetic_polygons([4]))[0][1]
    px, py, pz = _probes(verts, spread=0.1)
    inside = (
        E.crossing_parity_fast_edges(edges, px, py, pz) ^ int(shape.origin_inside)
    ).astype(bool)
    assert inside.any() and (~inside).any()
    got = PL.region_distance2(px, py, pz, edges, shape.origin_inside)
    assert (got[inside] == 0.0).all()
    assert not np.signbit(got[inside]).any()
    fold = PL.edges_min_distance2(px, py, pz, edges)
    assert _hex(got[~inside]) == _hex(fold[~inside])
    assert (fold[~inside] > 0).all()


def test_split_matches_per_row_evaluation():
    rng = np.random.default_rng(5)
    n = 500
    rid = rng.integers(0, 7, n)  # interleaved, repeated ids
    cell = rng.integers(0, 3, n)
    x, y, z = rng.standard_normal((3, n))
    thresh = {r: rng.standard_normal() for r in range(7)}
    calls = []

    def one_key(key, px, py, pz):
        calls.append(key)
        return px + py * pz > thresh[key]

    def two_keys(key, px, py, pz):
        r, c = key
        return px - c * pz > thresh[r]

    cols = tuple(pd.Series(v) for v in (x, y, z))
    got = split_by_region([pd.Series(rid)], cols, one_key).to_numpy()
    want = [bool(one_key(rid[i], x[i], y[i], z[i])) for i in range(n)]
    assert got.tolist() == want
    assert sorted(calls[: len(set(rid.tolist()))]) == sorted(set(rid.tolist()))

    got2 = split_by_region([pd.Series(rid), pd.Series(cell)], cols, two_keys)
    want2 = [bool(two_keys((rid[i], cell[i]), x[i], y[i], z[i])) for i in range(n)]
    assert got2.to_numpy().tolist() == want2

    # a scalar answer fills its group; an empty batch gives no rows
    const = split_by_region([pd.Series(rid)], cols, lambda k, *_: k % 2 == 1)
    assert const.to_numpy().tolist() == (rid % 2 == 1).tolist()
    empty = pd.Series(np.zeros(0))
    assert len(split_by_region([empty.astype("int64")], (empty,) * 3, one_key)) == 0


@pytest.mark.parametrize("r", [0.0, 1e-9, math.pi / 2, math.pi, 2 * math.pi])
def test_one_radius_to_chord2(r):
    s = math.sin(0.5 * min(r, math.pi))
    want = min(4.0, 4 * s * s)
    assert near_chord2(r).hex() == clamped_chord2(r).hex() == want.hex()


def test_near_chord2_still_rejects_a_bad_radius():
    for bad in (-1e-9, float("nan")):
        with pytest.raises(ValueError):
            near_chord2(bad)
    assert clamped_chord2(-1.0) == 0.0


def test_only_the_polyline_kernel_calls_the_per_edge_kernel():
    """Every near, closest and buffer refine goes through the fold in
    kernels/polyline.py; no other non-test source calls the per-edge
    kernel directly."""
    call = re.compile(r"\bedge_distance2_batch\(")
    offenders = [
        str(p.relative_to(REPO))
        for p in REPO.rglob("*.py")
        if "tests" not in p.relative_to(REPO).parts
        and not any(part.startswith(".") for part in p.relative_to(REPO).parts)
        and p != REPO / "s2geometry_spark" / "kernels" / "polyline.py"
        and call.search(p.read_text())
    ]
    assert offenders == []
