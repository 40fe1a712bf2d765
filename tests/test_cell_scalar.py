"""The plain-int ``geom.Cell`` against the vectorized cell-id kernels.

``Cell`` decodes, subdivides and projects one cell in Python ints and
floats.  Over seeded random cells on all six faces and every level
(face cells and leaves included, plus cells on the face edges), each
field must equal, bit for bit, what the numpy kernels
(``hilbert.to_face_ij``, ``cellid.level``, ``coords.st_to_uv``,
``cellid.cellid_to_xyz_raw``) give for the same id, and ``children()``
(built the S2Cell.Subdivide way) must equal the cells decoded from
``cellid.child``.
"""

from __future__ import annotations

import numpy as np
import pytest

from s2geometry_spark.constants import LIMIT_IJ, MAX_LEVEL
from s2geometry_spark.kernels import cellid as CI
from s2geometry_spark.kernels import coords
from s2geometry_spark.kernels import hilbert as H
from s2geometry_spark.kernels.geom import Cell

N_CELLS = 3000


def _random_cells(seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    face = rng.integers(0, 6, N_CELLS)
    i = rng.integers(0, LIMIT_IJ, N_CELLS)
    j = rng.integers(0, LIMIT_IJ, N_CELLS)
    # a tenth of the cells on a face edge or corner
    edge = rng.random(N_CELLS) < 0.1
    i[edge] = rng.choice([0, LIMIT_IJ - 1], edge.sum())
    j[edge & (rng.random(N_CELLS) < 0.5)] = LIMIT_IJ - 1
    level = rng.integers(0, MAX_LEVEL + 1, N_CELLS)
    level[:12] = [0] * 6 + [MAX_LEVEL] * 6  # face cells and leaves
    face[:12] = list(range(6)) * 2
    return CI.parent(H.from_face_ij(face, i, j), level)


def _unit(x, y, z):
    x, y, z = coords.normalize(x, y, z)
    return np.stack([x, y, z], axis=1)


@pytest.fixture(scope="module")
def ids() -> np.ndarray:
    return _random_cells(20261019)


@pytest.fixture(scope="module")
def reference(ids):
    """Every field of every cell, from the vectorized kernels."""
    face, i, j, orientation = H.to_face_ij(ids, want_orientation=True)
    level = CI.level(ids)
    size = np.int64(1) << (MAX_LEVEL - level)
    i_lo, j_lo = i & -size, j & -size

    def uv(ij):
        return coords.st_to_uv(coords.ij_to_st_min(ij))

    u_lo, u_hi, v_lo, v_hi = uv(i_lo), uv(i_lo + size), uv(j_lo), uv(j_lo + size)
    # CCW from (u_lo, v_lo), as Cell.vertex_raw
    vertices = np.stack([
        _unit(*coords.face_uv_to_xyz(face, u, v))
        for u, v in ((u_lo, v_lo), (u_hi, v_lo), (u_hi, v_hi), (u_lo, v_hi))
    ], axis=1)
    center = np.stack(CI.cellid_to_xyz_raw(ids), axis=1)
    return {
        "face": face, "level": level, "orientation": orientation,
        "uv": np.stack([u_lo, u_hi, v_lo, v_hi], axis=1),
        "vertices": vertices, "center": center,
    }


def _fields(cell: Cell):
    return (
        cell.id, cell.face, cell.level, cell.orientation,
        (cell.u_lo, cell.u_hi, cell.v_lo, cell.v_hi),
        cell.vertices(), cell.center_raw(),
    )


def test_cells_cover_every_face_and_level(ids):
    assert set(CI.face(ids).tolist()) == set(range(6))
    assert set(CI.level(ids).tolist()) == set(range(MAX_LEVEL + 1))


def test_cell_matches_vectorized_kernels(ids, reference):
    for k, cid in enumerate(ids.tolist()):
        cell = Cell(cid)
        assert cell.id == cid
        assert cell.face == reference["face"][k]
        assert cell.level == reference["level"][k]
        assert cell.orientation == reference["orientation"][k]
        assert (cell.u_lo, cell.u_hi, cell.v_lo, cell.v_hi) == tuple(
            reference["uv"][k]
        )
        assert cell.vertices() == tuple(map(tuple, reference["vertices"][k]))
        assert [cell.vertex(n) for n in range(4)] == list(cell.vertices())
        assert cell.center_raw() == tuple(reference["center"][k])


def test_signed_id_is_the_same_cell(ids):
    for cid in ids[:200].tolist():
        signed = cid - (1 << 64) if cid >= 1 << 63 else cid
        assert _fields(Cell(signed)) == _fields(Cell(cid))


def test_rect_bound_holds_the_cell(ids, reference):
    """get_rect_bound() contains the vectorized vertices and center, and
    asking twice returns the one bound computed."""
    for k, cid in enumerate(ids.tolist()):
        cell = Cell(cid)
        rect = cell.get_rect_bound()
        assert cell.get_rect_bound() is rect
        assert not rect.is_empty()
        for p in list(reference["vertices"][k]) + [reference["center"][k]]:
            assert rect.contains_point(tuple(float(c) for c in p))


def test_children_match_decoded_children(ids):
    for cid in ids.tolist():
        cell = Cell(cid)
        if cell.is_leaf():
            continue
        want = [Cell(int(CI.child(np.array([cid], np.uint64), k)[0]))
                for k in range(4)]
        got = cell.children()
        assert [_fields(c) for c in got] == [_fields(c) for c in want]
        for g, w in zip(got, want):
            gb, wb = g.get_rect_bound(), w.get_rect_bound()
            assert (gb.lat, gb.lng) == (wb.lat, wb.lng)


def test_int_codecs_match_vectorized(ids):
    face, i, j, orientation = H.to_face_ij(ids, want_orientation=True)
    leaves = H.from_face_ij(face, i, j)
    for k, cid in enumerate(ids.tolist()):
        assert H.to_face_ij_int(cid) == (
            face[k], i[k], j[k], orientation[k]
        )
        assert H.from_face_ij_int(int(face[k]), int(i[k]), int(j[k])) == leaves[k]


def test_xyz_to_cellid_one_matches_vectorized(ids, reference):
    # cell vertices sit on cell edges (the rounding boundary of the leaf
    # encode); centers and random directions are the general case
    pts = np.concatenate([
        reference["vertices"].reshape(-1, 3),
        reference["center"],
        np.random.default_rng(7).normal(size=(N_CELLS, 3)),
    ])
    want = CI.xyz_to_cellid(pts[:, 0], pts[:, 1], pts[:, 2])
    for p, w in zip(pts.tolist(), want.tolist()):
        assert CI.xyz_to_cellid_one(*p) == w


def test_edge_neighbors_one_matches_vectorized(ids):
    want = CI.edge_neighbors(ids)
    for cid, w in zip(ids.tolist(), want.tolist()):
        assert CI._edge_neighbors_one(cid) == w


def test_cap_seed_covering_is_vertex_neighbors_of_center():
    """Cap.get_cell_union_bound: the vertex neighbors of the leaf the
    vectorized encode gives for the center (``vertex_neighbors`` itself
    is pinned by test_cellid_golden)."""
    from s2geometry_spark.constants import KMIN_WIDTH
    from s2geometry_spark.kernels.geom import Cap

    rng = np.random.default_rng(11)
    for _ in range(300):
        c = rng.normal(size=3)
        c /= np.linalg.norm(c)
        cap = Cap(tuple(c.tolist()), float(rng.uniform(1e-14, 1.0)))
        level = KMIN_WIDTH.get_level_for_min_value(cap.radius_radians()) - 1
        got = cap.get_cell_union_bound()
        if level < 0:
            assert got == [int(v) for v in CI.from_face(np.arange(6))]
            continue
        leaf = CI.xyz_to_cellid(c[:1], c[1:2], c[2:])
        assert got == [int(v) for v in CI.vertex_neighbors(leaf, level)[0]]
