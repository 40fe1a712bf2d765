"""Golden digests of ``coverings.build_covering_rows``.

Each digest is the sha256 of the covering table, row by row in output
order: (region_id, cov_cell, level, is_interior).  The digests were
computed with cells decoded by the vectorized kernels
(``hilbert.to_face_ij`` and ``cellid.level`` on 1-element arrays), an
implementation independent of the plain-int ``Cell``.  A change to the
coverer, the cell geometry or the region predicates that moves a
single covering cell, its order or its interior flag changes a digest.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from s2geometry_spark.kernels.coverer import CovererOptions
from s2geometry_spark.kernels.geom import Cap
from s2geometry_spark.operators.coverings import build_covering_rows
from s2geometry_spark.sources import regions_src as R

# the hot-cell direction of the skewed point fixtures
METRO_XYZ = (0.3, -0.5, 0.8)


def _caps_around_metro(radius2_of):
    """32 overlapping caps whose centers are nudged off the metro
    direction by < 1e-4 rad; cap i has squared chord radius
    ``radius2_of(i)``."""
    x, y, z = METRO_XYZ
    n = math.sqrt(x * x + y * y + z * z)
    caps = []
    for i in range(32):
        a = 2 * math.pi * i / 32
        cx = x / n + 5e-5 * math.cos(a)
        cy = y / n + 5e-5 * math.sin(a)
        cz = z / n
        r = math.sqrt(cx * cx + cy * cy + cz * cz)
        caps.append((1000 + i, Cap((cx / r, cy / r, cz / r), radius2_of(i))))
    return caps


def _digest(pdf) -> str:
    h = hashlib.sha256()
    for rid, cell, level, interior in pdf.itertuples(index=False):
        h.update(f"{rid},{int(cell)},{int(level)},{int(interior)}\n".encode())
    return h.hexdigest()


CASES = {
    # name: (regions, build_covering_rows kwargs, rows, sha256)
    # the 25 synthetic caps of the entry-point contract and the oracle views
    "synthetic_caps": (
        lambda: R.synthetic_caps(range(25)), {}, 195,
        "df0bf3fe11b2b61080ca910a1610baa2a2eaf224dba21b43f5b293cdd245fa74",
    ),
    "synthetic_caps_interior": (
        lambda: R.synthetic_caps(range(25)), {"interior": True}, 200,
        "a0398967f9da81ab5f4a11a26d66cf832597e445b7fa2c709b9bfdee5743477a",
    ),
    # 6 km - 200 km chord radii around one direction
    "metro_caps": (
        lambda: _caps_around_metro(lambda i: 1e-6 * (i + 2) ** 2), {}, 246,
        "4891e1eb2c267801d159310b31b825c5e3f3a6fedf6243e2a16980710699998f",
    ),
    # 3 cm - 95 cm chord radii: coverings reach the leaf level
    "sub_metre_caps": (
        lambda: _caps_around_metro(lambda i: 2e-17 * (i + 2) ** 2), {}, 241,
        "33c188e62c60a1cfc92aaef3a1e05ece34953cc4367618ce94c06b6d1bed5b09",
    ),
    # the 512-vertex fractal loops of the region-join benchmark
    "fractal_loops": (
        lambda: R.fractal_loops(range(8), 512), {}, 61,
        "49626a27ec05d74f86b225d5a0d4658064280e822d1fe41b2b516d678ab782c0",
    ),
    # level_mod 2 expands two levels per candidate
    "fractal_loops_level_mod": (
        lambda: R.fractal_loops(range(8), 512),
        {"options": CovererOptions(max_cells=20, min_level=2, level_mod=2)},
        154, "76736c95c289d31dce0fc368445a3ffb5227766a14d1b6f396c18687003e5ae4",
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_covering_rows_digest(name):
    regions, kwargs, n_rows, digest = CASES[name]
    pdf = build_covering_rows(regions(), **kwargs)
    assert list(pdf.columns) == ["region_id", "cov_cell", "level", "is_interior"]
    assert [str(t) for t in pdf.dtypes] == ["int64", "int64", "int32", "bool"]
    assert len(pdf) == n_rows
    assert _digest(pdf) == digest
