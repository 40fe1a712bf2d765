"""Vectorized S2CellId kernels: encode/decode, hierarchy bit-ops, tokens,
neighbors.

Semantics match the public S2 cell-id contract (reference behavior:
/root/reference/S2Geometry/S2CellId.cs — FromS2Point :108-114,
CenterSiTi :219-245, Level :267-311, Parent/Child/Range :394-467,
EdgeNeighbors/AppendAllNeighbors :686-810, token codec :647-681).
All functions take/return numpy arrays; cell ids are np.uint64.

Signed-storage convention (SURVEY.md §1.1): Spark stores cell ids in
LongType as the raw two's-complement bits; ``bias``/``unbias`` convert
to an order-isomorphic signed key for range predicates.
"""

from __future__ import annotations

import math

import numpy as np

from ..constants import (
    BIAS,
    LIMIT_IJ,
    MAX_LEVEL,
    MAX_SIZE,
    NUM_FACES,
    POS_BITS,
    SENTINEL_ID,
)
from . import coords
from .hilbert import U, from_face_ij, from_face_ij_int, to_face_ij, to_face_ij_int


def as_u64(cell_id: np.ndarray) -> np.ndarray:
    """View int64/uint64 input as uint64 without changing bits."""
    a = np.asarray(cell_id)
    if a.dtype == np.uint64:
        return a
    return a.astype(np.int64).view(np.uint64)


def as_i64(cell_id: np.ndarray) -> np.ndarray:
    """View uint64 cell ids as int64 raw bits (Spark LongType storage)."""
    return np.asarray(cell_id, dtype=np.uint64).view(np.int64)


def bias(cell_id: np.ndarray) -> np.ndarray:
    """Signed sort key: cell_id XOR 2^63, order-isomorphic to unsigned."""
    return (as_u64(cell_id) ^ U(BIAS)).view(np.int64)


def unbias(key: np.ndarray) -> np.ndarray:
    return (np.asarray(key, dtype=np.int64).view(np.uint64) ^ U(BIAS))


# ---------------------------------------------------------------------
# Encode / decode
# ---------------------------------------------------------------------

# The encode chain streams ~13 intermediate arrays; above this many
# rows per chunk they fall out of L2 and every numpy op pays memory
# bandwidth.  64k rows keeps the working set cache-resident (~40%
# throughput on multi-million-row batches, bit-identical output).
_ENCODE_CHUNK = 65536


def _xyz_to_cellid_chunk(
    x: np.ndarray, y: np.ndarray, z: np.ndarray
) -> np.ndarray:
    """One cache-sized chunk of the leaf encode, with the face
    component reused as the projection denominator (get_face's comp
    IS sel(face % 3) — computing it once drops two where-chains from
    the hot path; values are selection-identical, so results stay
    bit-exact vs coords.xyz_to_face_uv)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    m0 = (ax > ay) & (ax > az)
    m1 = ~m0 & (ay > az)
    axis = np.where(m0, 0, np.where(m1, 1, 2))
    den = np.where(m0, x, np.where(m1, y, z))
    neg = den < 0.0
    face = np.where(neg, axis + 3, axis).astype(np.int64)
    # the two non-major components in fixed order; the sign tables'
    # index columns (_U_IDX/_V_IDX) reduce to "o1 on faces 0-2, o2 on
    # faces 3-5" for u (and the reverse for v), so two flat wheres
    # replace the four nested component-select wheres per axis
    o1 = np.where(m0, y, x)
    o2 = np.where(m0 | m1, z, y)
    u = coords._U_SGN[face] * np.where(neg, o2, o1)
    u /= den
    v = coords._V_SGN[face] * np.where(neg, o1, o2)
    v /= den
    return from_face_ij(face, _uv_to_ij32(u), _uv_to_ij32(v))


def _uv_to_ij32(q: np.ndarray) -> np.ndarray:
    """Fused in-place uv->st->ij (same op order as coords.uv_to_st +
    coords.st_to_ij, so bit-identical), emitting int32 directly since
    the Hilbert encode runs its hot loop in int32.  Consumes ``q``."""
    r = np.abs(q)
    r *= 3.0
    r += 1.0
    np.sqrt(r, out=r)
    r *= 0.5
    st = np.where(q >= 0.0, r, 1.0 - r)
    st *= coords.LIMIT_IJ
    st -= 0.5
    np.rint(st, out=st)
    np.clip(st, 0, coords.LIMIT_IJ - 1, out=st)
    return st.astype(np.int32)


def xyz_to_cellid(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> np.ndarray:
    """Leaf cell id of a direction vector (S2CellId.FromS2Point)."""
    x = np.ascontiguousarray(x, dtype=np.float64)
    y = np.ascontiguousarray(y, dtype=np.float64)
    z = np.ascontiguousarray(z, dtype=np.float64)
    n = len(x)
    if n <= _ENCODE_CHUNK:
        return _xyz_to_cellid_chunk(x, y, z)
    out = np.empty(n, dtype=np.uint64)
    for s in range(0, n, _ENCODE_CHUNK):
        e = min(s + _ENCODE_CHUNK, n)
        out[s:e] = _xyz_to_cellid_chunk(x[s:e], y[s:e], z[s:e])
    return out


def ll_to_cellid(lat_deg: np.ndarray, lon_deg: np.ndarray) -> np.ndarray:
    return xyz_to_cellid(*coords.ll_to_xyz(lat_deg, lon_deg))


def center_siti(cell_id: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(face, si, ti) of the cell center (S2CellId.CenterSiTi)."""
    cid = as_u64(cell_id)
    face, i, j = to_face_ij(cid)
    leaf = is_leaf(cid)
    # non-leaf: ToFaceIJ returns one of the two leaf cells nearest the
    # center; low bit of (i ^ (id>>2)) distinguishes which.
    second = ((i.astype(np.uint64) ^ (cid >> U(2))) & U(1)) != U(0)
    delta = np.where(leaf, 1, np.where(second, 2, 0)).astype(np.int64)
    return face.astype(np.int64), 2 * i + delta, 2 * j + delta


def cellid_to_xyz_raw(cell_id: np.ndarray) -> tuple[np.ndarray, ...]:
    """Center direction vector, not unit length (ToPointRaw)."""
    face, si, ti = center_siti(cell_id)
    return coords.face_siti_to_xyz(face, si, ti)


def cellid_to_xyz(cell_id: np.ndarray) -> tuple[np.ndarray, ...]:
    """Unit-length center point (ToPoint)."""
    return coords.normalize(*cellid_to_xyz_raw(cell_id))


def cellid_to_ll(cell_id: np.ndarray) -> tuple[np.ndarray, ...]:
    return coords.xyz_to_ll(*cellid_to_xyz_raw(cell_id))


# ---------------------------------------------------------------------
# Hierarchy bit arithmetic
# ---------------------------------------------------------------------

def lowest_on_bit(cell_id: np.ndarray) -> np.ndarray:
    cid = as_u64(cell_id)
    return cid & (~cid + U(1))


def lsb_for_level(level) -> np.ndarray:
    lv = np.asarray(level, dtype=np.uint64)
    return U(1) << (U(2) * (U(MAX_LEVEL) - lv))


def level(cell_id: np.ndarray) -> np.ndarray:
    """Cell level from the position of the lowest set bit."""
    lsb = lowest_on_bit(cell_id)
    # lsb is an exact power of two <= 2^63: float64 log2 is exact.
    tz = np.log2(lsb.astype(np.float64)).astype(np.int64)
    return MAX_LEVEL - (tz >> 1)


def is_leaf(cell_id: np.ndarray) -> np.ndarray:
    return (as_u64(cell_id) & U(1)) != U(0)


def is_valid(cell_id: np.ndarray) -> np.ndarray:
    cid = as_u64(cell_id)
    face_ok = (cid >> U(POS_BITS)) < U(NUM_FACES)
    lsb_ok = (lowest_on_bit(cid) & U(0x1555555555555555)) != U(0)
    return face_ok & lsb_ok


def parent(cell_id: np.ndarray, target_level=None) -> np.ndarray:
    cid = as_u64(cell_id)
    if target_level is None:
        new_lsb = lowest_on_bit(cid) << U(2)
    else:
        new_lsb = lsb_for_level(target_level)
    return (cid & (~new_lsb + U(1))) | new_lsb


def child(cell_id: np.ndarray, position) -> np.ndarray:
    cid = as_u64(cell_id)
    new_lsb = lowest_on_bit(cid) >> U(2)
    pos = np.asarray(position, dtype=np.uint64)
    # id - 4*new_lsb + (2*pos+1)*new_lsb, ordered to stay in range
    return cid - U(4) * new_lsb + (U(2) * pos + U(1)) * new_lsb


def child_begin(cell_id: np.ndarray, target_level=None) -> np.ndarray:
    cid = as_u64(cell_id)
    old_lsb = lowest_on_bit(cid)
    if target_level is None:
        return cid - old_lsb + (old_lsb >> U(2))
    return cid - old_lsb + lsb_for_level(target_level)


def child_end(cell_id: np.ndarray, target_level=None) -> np.ndarray:
    cid = as_u64(cell_id)
    old_lsb = lowest_on_bit(cid)
    if target_level is None:
        return cid + old_lsb + (old_lsb >> U(2))
    return cid + old_lsb + lsb_for_level(target_level)


def next_id(cell_id: np.ndarray) -> np.ndarray:
    cid = as_u64(cell_id)
    return cid + (lowest_on_bit(cid) << U(1))


def prev_id(cell_id: np.ndarray) -> np.ndarray:
    cid = as_u64(cell_id)
    return cid - (lowest_on_bit(cid) << U(1))


_WRAP_OFFSET = np.uint64(6) << U(POS_BITS)


def begin(lv) -> np.ndarray:
    """First cell id at `lv` in Hilbert order (S2CellId.Begin)."""
    return child_begin(from_face(0), lv)


def end(lv) -> np.ndarray:
    """One-past-the-last id at `lv` (S2CellId.End; invalid sentinel)."""
    return child_end(from_face(5), lv)


def advance(cell_id: np.ndarray, steps) -> np.ndarray:
    """Advance `steps` cells at this level in Hilbert order, clamped to
    [Begin(level), End(level)] (S2CellId.Advance)."""
    cid = as_u64(cell_id)
    steps = np.asarray(steps, dtype=np.int64) + np.zeros(cid.shape, np.int64)
    shift = (U(2) * (U(MAX_LEVEL) - level(cid).astype(np.uint64)) + U(1)).astype(
        np.int64
    )
    min_steps = -((cid >> shift.astype(np.uint64)).astype(np.int64))
    max_steps = (
        (_WRAP_OFFSET + lowest_on_bit(cid) - cid) >> shift.astype(np.uint64)
    ).astype(np.int64)
    steps = np.clip(steps, min_steps, max_steps)
    return cid + (steps.astype(np.uint64) << shift.astype(np.uint64))


def advance_wrap(cell_id: np.ndarray, steps) -> np.ndarray:
    """Advance with wraparound past the cube's first/last cell
    (S2CellId.AdvanceWrap)."""
    cid = as_u64(cell_id)
    steps = np.asarray(steps, dtype=np.int64) + np.zeros(cid.shape, np.int64)
    shift = (U(2) * (U(MAX_LEVEL) - level(cid).astype(np.uint64)) + U(1)).astype(
        np.int64
    )
    ushift = shift.astype(np.uint64)
    min_steps = -((cid >> ushift).astype(np.int64))
    max_steps = ((_WRAP_OFFSET - cid) >> ushift).astype(np.int64)
    step_wrap = (_WRAP_OFFSET >> ushift).astype(np.int64)
    s = steps.copy()
    under = s < min_steps
    if under.any():
        sw = np.mod(s, step_wrap)  # python-style mod; fix sign below
        sw = np.where(sw > 0, sw - step_wrap, sw)  # C-style remainder
        sw = np.where(sw < min_steps, sw + step_wrap, sw)
        s = np.where(under, sw, s)
    over = s > max_steps
    if over.any():
        sw = np.mod(s, step_wrap)
        sw = np.where(sw > max_steps, sw - step_wrap, sw)
        s = np.where(over, sw, s)
    return cid + (s.astype(np.uint64) << ushift)


def range_min(cell_id: np.ndarray) -> np.ndarray:
    cid = as_u64(cell_id)
    return cid - (lowest_on_bit(cid) - U(1))


def range_max(cell_id: np.ndarray) -> np.ndarray:
    cid = as_u64(cell_id)
    return cid + (lowest_on_bit(cid) - U(1))


def contains(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """True where cell a contains cell b (unsigned range test)."""
    b64 = as_u64(b)
    return (b64 >= range_min(a)) & (b64 <= range_max(a))


def intersects(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


def pos(cell_id: np.ndarray) -> np.ndarray:
    return as_u64(cell_id) & (U(0xFFFFFFFFFFFFFFFF) >> U(3))


def face(cell_id: np.ndarray) -> np.ndarray:
    return (as_u64(cell_id) >> U(POS_BITS)).astype(np.int64)


def from_face(f) -> np.ndarray:
    fa = np.asarray(f, dtype=np.uint64)
    return (fa << U(POS_BITS)) + lsb_for_level(0)


def from_face_pos_level(f, p, lv) -> np.ndarray:
    fa = np.asarray(f, dtype=np.uint64)
    pp = np.asarray(p, dtype=np.uint64)
    cid = (fa << U(POS_BITS)) + (pp | U(1))
    return parent(cid, lv)


def common_ancestor_level(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Level of the smallest common ancestor, or -1 (S2CellId.cs:611-623):
    max(60 - msb(bits), -1) >> 1 with bits = max(a^b, lsb(a), lsb(b))."""
    au, bu = as_u64(a), as_u64(b)
    bits = np.maximum(au ^ bu, np.maximum(lowest_on_bit(au), lowest_on_bit(bu)))
    # MSB position: smear then isolate top bit; power of two -> exact log2.
    x = bits.copy()
    for s in (1, 2, 4, 8, 16, 32):
        x |= x >> U(s)
    msb_val = x - (x >> U(1))
    msb = np.log2(msb_val.astype(np.float64)).astype(np.int64)
    return np.maximum(60 - msb, -1) >> 1


# ---------------------------------------------------------------------
# Token codec (S2CellId.cs:647-681): uppercase hex, trailing zeros
# stripped; id 0 encodes as "X".
# ---------------------------------------------------------------------

def to_token(cell_id: np.ndarray) -> np.ndarray:
    cid = as_u64(np.atleast_1d(cell_id))
    out = np.empty(cid.shape[0], dtype=object)
    for idx, v in enumerate(cid):
        out[idx] = "X" if v == 0 else format(int(v), "016X").rstrip("0")
    return out


_HEX = set("0123456789abcdefABCDEF")


def from_token(tokens) -> np.ndarray:
    out = np.zeros(len(tokens), dtype=np.uint64)
    for idx, t in enumerate(tokens):
        if t is None or len(t) > 16 or len(t) == 0 or not all(c in _HEX for c in t):
            out[idx] = 0  # None id
        else:
            out[idx] = U(int((t + "0" * 16)[:16], 16))
    return out


# ---------------------------------------------------------------------
# Neighbors (S2CellId.cs:686-810)
# ---------------------------------------------------------------------

def _size_ij(lv) -> np.ndarray:
    lvl = np.asarray(lv, dtype=np.int64)
    return np.int64(1) << (MAX_LEVEL - lvl)


def _from_face_ij_wrap(f: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf cell on the adjacent face for out-of-range (i,j)
    (S2CellId.cs:948-979): clamp, linear-project to uv slightly outside
    the face square, convert through xyz back to the proper face."""
    i = np.clip(i, -1, MAX_SIZE)
    j = np.clip(j, -1, MAX_SIZE)
    k_scale = 1.0 / MAX_SIZE
    k_limit = np.nextafter(1.0, 2.0)  # 1 + DBL_EPSILON
    u = np.clip(k_scale * (2 * (i - MAX_SIZE // 2) + 1), -k_limit, k_limit)
    v = np.clip(k_scale * (2 * (j - MAX_SIZE // 2) + 1), -k_limit, k_limit)
    x, y, z = coords.face_uv_to_xyz(f, u, v)
    nf, nu, nv = coords.xyz_to_face_uv(x, y, z)
    return from_face_ij(
        nf, coords.st_to_ij(0.5 * (nu + 1)), coords.st_to_ij(0.5 * (nv + 1))
    )


def _from_face_ij_same(
    f: np.ndarray, i: np.ndarray, j: np.ndarray, same: np.ndarray
) -> np.ndarray:
    out = np.empty(f.shape, dtype=np.uint64)
    if same.any():
        out[same] = from_face_ij(f[same], i[same], j[same])
    rest = ~same
    if rest.any():
        out[rest] = _from_face_ij_wrap(f[rest], i[rest], j[rest])
    return out


def edge_neighbors(cell_id: np.ndarray) -> np.ndarray:
    """4 neighbors across the cell's edges; shape (n, 4) uint64."""
    cid = as_u64(np.atleast_1d(cell_id))
    lv = level(cid)
    size = _size_ij(lv)
    f, i, j = to_face_ij(cid)
    down = parent(_from_face_ij_same(f, i, j - size, j - size >= 0), lv)
    right = parent(_from_face_ij_same(f, i + size, j, i + size < MAX_SIZE), lv)
    up = parent(_from_face_ij_same(f, i, j + size, j + size < MAX_SIZE), lv)
    left = parent(_from_face_ij_same(f, i - size, j, i - size >= 0), lv)
    return np.stack([down, right, up, left], axis=1)


def _edge_neighbors_one(cid: int) -> list[int]:
    """``edge_neighbors`` of one cell in Python ints."""
    f, i, j, _ = to_face_ij_int(cid)
    lsb = cid & -cid
    size = 1 << ((lsb.bit_length() - 1) // 2)
    return [
        (_from_face_ij_same_one(f, ii, jj, same) & -lsb) | lsb
        for ii, jj, same in (
            (i, j - size, j - size >= 0),
            (i + size, j, i + size < MAX_SIZE),
            (i, j + size, j + size < MAX_SIZE),
            (i - size, j, i - size >= 0),
        )
    ]


def vertex_neighbors(cell_id: np.ndarray, nbr_level) -> list[np.ndarray]:
    """Neighbors of the closest vertex at nbr_level < level(id); 3 or 4
    cells per row (AppendVertexNeighbors, S2CellId.cs:710-755)."""
    cid = as_u64(np.atleast_1d(cell_id))
    return [
        np.array(_vertex_neighbors_one(c, int(nbr_level)), np.uint64)
        for c in cid.tolist()
    ]


def _vertex_neighbors_one(cid: int, lv: int) -> list[int]:
    """``vertex_neighbors`` of one cell in Python ints."""
    f, i, j, _ = to_face_ij_int(cid)
    halfsize = 1 << (MAX_LEVEL - (lv + 1))
    size = halfsize << 1
    if i & halfsize:
        ioffset, isame = size, (i + size) < MAX_SIZE
    else:
        ioffset, isame = -size, (i - size) >= 0
    if j & halfsize:
        joffset, jsame = size, (j + size) < MAX_SIZE
    else:
        joffset, jsame = -size, (j - size) >= 0
    nbrs = [
        (i, j, True), (i + ioffset, j, isame), (i, j + joffset, jsame)
    ]
    if isame or jsame:
        nbrs.append((i + ioffset, j + joffset, isame and jsame))
    new_lsb = 1 << (2 * (MAX_LEVEL - lv))
    return [
        (_from_face_ij_same_one(f, ii, jj, same) & -new_lsb) | new_lsb
        for ii, jj, same in nbrs
    ]


def _from_face_ij_same_one(f: int, i: int, j: int, same: bool) -> int:
    """``_from_face_ij_same`` of one (face, i, j) in Python ints."""
    if same:
        return from_face_ij_int(f, i, j)
    return _from_face_ij_wrap_one(f, i, j)


def _from_face_ij_wrap_one(f: int, i: int, j: int) -> int:
    """``_from_face_ij_wrap`` of one (face, i, j) in Python ints and
    floats (same op order, so bit-identical)."""
    from .geom import _face_uv_to_xyz

    i = min(max(i, -1), MAX_SIZE)
    j = min(max(j, -1), MAX_SIZE)
    k_scale = 1.0 / MAX_SIZE
    k_limit = math.nextafter(1.0, 2.0)  # 1 + DBL_EPSILON
    u = min(max(k_scale * (2 * (i - MAX_SIZE // 2) + 1), -k_limit), k_limit)
    v = min(max(k_scale * (2 * (j - MAX_SIZE // 2) + 1), -k_limit), k_limit)
    face, nu, nv = _xyz_to_face_uv_one(*_face_uv_to_xyz(f, u, v))

    def st_to_ij(s):
        return min(max(round(LIMIT_IJ * s - 0.5), 0), LIMIT_IJ - 1)

    return from_face_ij_int(
        face, st_to_ij(0.5 * (nu + 1)), st_to_ij(0.5 * (nv + 1))
    )


def _xyz_to_face_uv_one(x: float, y: float, z: float):
    """(face, u, v) of one direction vector: the face of the
    largest-abs component (ties to the later axis, as ``coords.get_face``)
    and its projection, whose ``-a / b`` equals the vectorized
    ``(-1.0 * a) / b`` bit for bit."""
    from .geom import _valid_face_xyz_to_uv

    ax, ay, az = abs(x), abs(y), abs(z)
    if ax > ay and ax > az:
        face = 0 if x >= 0.0 else 3
    elif ay > az:
        face = 1 if y >= 0.0 else 4
    else:
        face = 2 if z >= 0.0 else 5
    return (face, *_valid_face_xyz_to_uv(face, (x, y, z)))


def xyz_to_cellid_one(x: float, y: float, z: float) -> int:
    """Leaf cell id of one direction vector in Python ints and floats,
    bit-identical to ``xyz_to_cellid`` (same face choice, same op
    order as ``_uv_to_ij32``)."""
    face, u, v = _xyz_to_face_uv_one(float(x), float(y), float(z))

    def uv_to_ij(q):
        r = math.sqrt(abs(q) * 3.0 + 1.0) * 0.5
        st = r if q >= 0.0 else 1.0 - r
        return min(max(round(st * LIMIT_IJ - 0.5), 0), LIMIT_IJ - 1)

    return from_face_ij_int(face, uv_to_ij(u), uv_to_ij(v))


def ring_neighbors(cell_id: np.ndarray, lv: int) -> np.ndarray:
    """Fully-vectorized 3x3 neighborhood at one level: the level-`lv`
    ancestor of each id plus its 8 surrounding cells (with duplicates
    near face corners, as AppendAllNeighbors).  Returns (n, 9) uint64.

    This is the kNN ring-expansion hot path (SURVEY.md §2.4): unlike
    ``all_neighbors`` it never drops to per-row Python.
    """
    cid = parent(as_u64(np.atleast_1d(cell_id)), lv)
    size = np.int64(1 << (MAX_LEVEL - lv))
    f, i, j = to_face_ij(cid)
    i &= -size
    j &= -size
    n = cid.shape[0]
    cols = [cid]
    for a in (-1, 0, 1):
        for b in (-1, 0, 1):
            if a == 0 and b == 0:
                continue
            ii = i + a * size
            jj = j + b * size
            same = (ii >= 0) & (ii < MAX_SIZE) & (jj >= 0) & (jj < MAX_SIZE)
            cols.append(parent(_from_face_ij_same(f, ii, jj, same), lv))
    return np.stack(cols, axis=1)


def all_neighbors(cell_id: np.ndarray, nbr_level=None) -> list[np.ndarray]:
    """All neighbors (including diagonals) at nbr_level >= level(id);
    per-row arrays since counts vary (AppendAllNeighbors,
    S2CellId.cs:760-810).  May contain duplicates near face vertices,
    exactly as the reference."""
    cid = as_u64(np.atleast_1d(cell_id))
    lv = level(cid)
    if nbr_level is None:
        nbr_lv = lv
    else:
        nbr_lv = np.broadcast_to(np.asarray(nbr_level, np.int64), cid.shape)
    out = []
    for idx in range(cid.shape[0]):
        out.append(_all_neighbors_one(cid[idx], int(nbr_lv[idx])))
    return out


def _all_neighbors_one(cid: np.uint64, nbr_level: int) -> np.ndarray:
    one = np.array([cid], np.uint64)
    f, i, j = to_face_ij(one)
    f, i, j = int(f[0]), int(i[0]), int(j[0])
    lv = int(level(one)[0])
    size = 1 << (MAX_LEVEL - lv)
    i &= -size
    j &= -size
    nbr_size = 1 << (MAX_LEVEL - nbr_level)
    faces, iis, jjs, sames = [], [], [], []
    k = -nbr_size
    while True:
        if k < 0:
            same_face = (j + k) >= 0
        elif k >= size:
            same_face = (j + k) < MAX_SIZE
        else:
            same_face = True
            # top and bottom neighbors
            faces += [f, f]
            iis += [i + k, i + k]
            jjs += [j - nbr_size, j + size]
            sames += [j - size >= 0, j + size < MAX_SIZE]
        # left, right, and diagonal neighbors
        faces += [f, f]
        iis += [i - nbr_size, i + size]
        jjs += [j + k, j + k]
        sames += [same_face and i - size >= 0, same_face and i + size < MAX_SIZE]
        if k >= size:
            break
        k += nbr_size
    ids = _from_face_ij_same(
        np.asarray(faces, np.int64), np.asarray(iis, np.int64),
        np.asarray(jjs, np.int64), np.asarray(sames, bool))
    return parent(ids, nbr_level)


# ---------------------------------------------------------------------
# Hilbert-range tiling (MaximumTile, S2CellId.cs:577-601)
# ---------------------------------------------------------------------

def maximum_tile(cell_id: int, limit: int) -> int:
    """Largest cell starting at cell_id that does not extend beyond
    ``limit`` (both leaf-aligned positions), scalar driver-side helper."""
    cid = int(cell_id)
    lim = int(limit)
    start = int(range_min(np.array([cid], np.uint64))[0])
    if start >= lim:
        return lim
    arr = np.array([cid], np.uint64)
    while True:
        lv = int(level(arr)[0])
        if lv == 0:
            break
        par = parent(arr)
        if int(range_max(par)[0]) >= lim or int(range_min(par)[0]) != start:
            break
        arr = par
    # descend while the cell extends beyond limit
    while int(range_max(arr)[0]) >= lim:
        arr = child_begin(arr)
    return int(arr[0])


def _expand_endpoint(u: float, max_v: float, sin_dist: float) -> float:
    """Helper for expanded_by_distance_uv (S2CellId.cs:1033-1048):
    new u' whose line is exactly sin_dist from edge (u,v0)-(u,v1)."""
    import math

    sin_u_shift = sin_dist * math.sqrt(
        (1 + u * u + max_v * max_v) / (1 + u * u)
    )
    cos_u_shift = math.sqrt(1 - sin_u_shift * sin_u_shift)
    return (cos_u_shift * u + sin_u_shift) / (cos_u_shift - sin_u_shift * u)


def expanded_by_distance_uv(uv, distance_rad: float):
    """Expand a (u, v) rect on a cube face so it contains all points
    within `distance_rad` of the original region
    (S2CellId.ExpandedByDistanceUV).  uv = ((u0, u1), (v0, v1))."""
    import math

    (u0, u1), (v0, v1) = uv
    max_u = max(abs(u0), abs(u1))
    max_v = max(abs(v0), abs(v1))
    sin_dist = math.sin(distance_rad)
    return (
        (
            _expand_endpoint(u0, max_v, -sin_dist),
            _expand_endpoint(u1, max_v, sin_dist),
        ),
        (
            _expand_endpoint(v0, max_u, -sin_dist),
            _expand_endpoint(v1, max_u, sin_dist),
        ),
    )


def ij_level_to_bound_uv(i: int, j: int, level: int):
    """(i, j, level) -> the cell's (u, v) rect
    (S2CellId.IJLevelToBoundUV; the standalone form of Cell's bound)."""
    from . import coords

    cell_size = 1 << (MAX_LEVEL - level)
    i_lo = i & -cell_size
    j_lo = j & -cell_size
    limit = float(1 << MAX_LEVEL)
    st = lambda x: float(coords.st_to_uv(np.array([x / limit]))[0])  # noqa: E731
    return (
        (st(i_lo), st(i_lo + cell_size)),
        (st(j_lo), st(j_lo + cell_size)),
    )
