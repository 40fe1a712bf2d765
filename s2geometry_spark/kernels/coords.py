"""Vectorized S2 coordinate-system transforms.

Semantics match the public S2 quadratic-projection coordinate stack
(reference behavior: /root/reference/S2Geometry/S2Coords.cs:130-330 —
STtoUV/UVtoST quadratic, STtoIJ round-half-even discretization,
ValidFaceXYZtoUV / FaceUVtoXYZ face switches, GetFace largest-abs
component).  All kernels take/return numpy arrays.
"""

from __future__ import annotations

import numpy as np

from ..constants import LIMIT_IJ, MAX_SITI

# Per-face gather tables for ValidFaceXYZtoUV (S2Coords.cs:265-277):
#   u = U_SGN[face] * p[U_IDX[face]] / p[face % 3]
#   v = V_SGN[face] * p[V_IDX[face]] / p[face % 3]
_U_IDX = np.array([1, 0, 0, 2, 2, 1], dtype=np.int64)
_U_SGN = np.array([1.0, -1.0, -1.0, 1.0, 1.0, -1.0])
_V_IDX = np.array([2, 2, 1, 1, 0, 0], dtype=np.int64)
_V_SGN = np.array([1.0, 1.0, -1.0, 1.0, -1.0, -1.0])


def ll_to_xyz(lat_deg: np.ndarray, lon_deg: np.ndarray) -> tuple[np.ndarray, ...]:
    """(lat, lon) degrees -> unit vector, as S2LatLng.ToPoint."""
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    theta = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cosphi = np.cos(phi)
    return np.cos(theta) * cosphi, np.sin(theta) * cosphi, np.sin(phi)


def xyz_to_ll(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> tuple[np.ndarray, ...]:
    """Unit vector -> (lat, lon) degrees (S2LatLng from-point ctor)."""
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


def get_face(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> np.ndarray:
    """Largest-abs-component face selection (S2Coords.cs:303-309).

    Tie-break: |x|>|y| ? (|x|>|z| ? axis0 : axis2) : (|y|>|z| ? axis1
    : axis2) — i.e. on exact ties the later axis wins, matching the
    reference's LargestAbsComponent.
    """
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.where(axis == 0, x, np.where(axis == 1, y, z))
    return np.where(comp < 0.0, axis + 3, axis).astype(np.int64)


def valid_face_xyz_to_uv(
    face: np.ndarray, x: np.ndarray, y: np.ndarray, z: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(face, p) -> (u, v), requires dot(p, face_norm) > 0."""
    face = np.asarray(face, dtype=np.int64)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)

    def sel(idx):
        return np.where(idx == 0, x, np.where(idx == 1, y, z))

    den = sel(face % 3)
    u = _U_SGN[face] * sel(_U_IDX[face]) / den
    v = _V_SGN[face] * sel(_V_IDX[face]) / den
    return u, v


def xyz_to_face_uv(
    x: np.ndarray, y: np.ndarray, z: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    face = get_face(x, y, z)
    u, v = valid_face_xyz_to_uv(face, x, y, z)
    return face, u, v


def face_uv_to_xyz(
    face: np.ndarray, u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(face,u,v) -> direction vector (not unit length), 6-way switch of
    S2Coords.cs:219-234."""
    face = np.asarray(face, dtype=np.int64)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    # rows: face -> (x, y, z) selections
    xs = np.stack([one, -u, -u, -one, v, v])
    ys = np.stack([u, one, -v, -v, -one, u])
    zs = np.stack([v, v, one, -u, -u, -one])
    rows = np.arange(u.shape[0])
    return xs[face, rows], ys[face, rows], zs[face, rows]


def st_to_uv(s: np.ndarray) -> np.ndarray:
    """Quadratic projection (S2Coords.cs:157-159)."""
    s = np.asarray(s, dtype=np.float64)
    hi = s >= 0.5
    d = np.where(hi, s, 1.0 - s)
    val = (1.0 / 3.0) * (4.0 * d * d - 1.0)
    # IEEE negation/subtraction identities make this bit-identical to the
    # reference's two-branch form.
    return np.where(hi, val, -val)


def uv_to_st(u: np.ndarray) -> np.ndarray:
    """Inverse quadratic projection (S2Coords.cs:174-176)."""
    u = np.asarray(u, dtype=np.float64)
    pos = u >= 0.0
    r = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(u))
    return np.where(pos, r, 1.0 - r)


def st_to_ij(s: np.ndarray) -> np.ndarray:
    """Leaf-cell index of an s/t value, clamped (S2Coords.cs:196-200).

    Uses round-half-to-even (np.rint), matching .NET Math.Round(double).
    """
    v = np.rint(LIMIT_IJ * np.asarray(s, dtype=np.float64) - 0.5)
    return np.clip(v, 0, LIMIT_IJ - 1).astype(np.int64)


def ij_to_st_min(i: np.ndarray) -> np.ndarray:
    """Minimum s/t of leaf cell i (S2Coords.cs:186-190)."""
    return (1.0 / LIMIT_IJ) * np.asarray(i, dtype=np.float64)


def siti_to_st(si: np.ndarray) -> np.ndarray:
    return (1.0 / MAX_SITI) * np.asarray(si, dtype=np.float64)


def face_siti_to_xyz(
    face: np.ndarray, si: np.ndarray, ti: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cell-center (si,ti) -> direction vector (S2Coords FaceSiTitoXYZ)."""
    return face_uv_to_xyz(face, st_to_uv(siti_to_st(si)), st_to_uv(siti_to_st(ti)))


def normalize(
    x: np.ndarray, y: np.ndarray, z: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n
