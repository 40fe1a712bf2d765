"""DuckDB-SQL generators re-implementing the cell-id pipeline.

This is an *independent second implementation* of the S2 point->cell-id
pipeline in pure ANSI-ish SQL (DuckDB dialect), used as the correctness
oracle for the Spark/numpy path.  Every step is plain IEEE-double or
integer arithmetic, so Spark and DuckDB agree bit-for-bit:

  xyz -> face (largest-abs component, later-axis tie-break)
      -> (u,v) perspective divide        (S2Coords.cs:265-277)
      -> (s,t) inverse quadratic         (S2Coords.cs:174-176)
      -> (i,j) round-half-even + clamp   (S2Coords.cs:196-200)
      -> Hilbert position via 8 recursive-CTE rounds over the same
         1024-entry lookup table          (S2CellId.cs:817-853)

The lookup table content is generated from the numpy tables at call
time, guaranteeing the two implementations share one source of truth
for the traversal order while the arithmetic is written twice.
"""

from __future__ import annotations

from functools import lru_cache

from ..constants import LIMIT_IJ, MAX_LEVEL
from ..kernels.hilbert import LOOKUP_POS


@lru_cache(maxsize=1)
def lookup_values_sql() -> str:
    """1024-row VALUES relation lp(idx, pos8, obits)."""
    rows = ",".join(
        f"({idx},{int(v) >> 2},{int(v) & 3})" for idx, v in enumerate(LOOKUP_POS)
    )
    return f"lp(idx, pos8, obits) AS (SELECT * FROM (VALUES {rows}) t(a,b,c))"


def _rhe(x: str) -> str:
    """Round-half-to-even of a double expression (exact, no +0.5 trick:
    frac is computed by exact subtraction, ties resolved by parity)."""
    return (
        f"(CASE WHEN ({x}) - floor({x}) > 0.5 THEN floor({x}) + 1 "
        f"WHEN ({x}) - floor({x}) < 0.5 THEN floor({x}) "
        f"ELSE floor({x}) + CAST(CAST(floor({x}) AS BIGINT) & 1 AS DOUBLE) END)"
    )


# 2^(8k) constants for the per-round position shift, as HUGEINT-safe
# multiplications (DuckDB << on BIGINT would overflow at k=7).
_POW256 = {k: 1 << (8 * k) for k in range(8)}
_SHIFT_CASE = "CASE e.k " + " ".join(
    f"WHEN {k} THEN CAST('{v}' AS HUGEINT)" for k, v in _POW256.items()
) + " END"

_FACE_SHIFT = str(1 << (2 * MAX_LEVEL))  # face << 60, pre-doubling
_TWO63 = "CAST('9223372036854775808' AS HUGEINT)"
_TWO64 = "CAST('18446744073709551616' AS HUGEINT)"


def cellid_pipeline_ctes(pts_cte_name: str = "pts") -> str:
    """CTE chain from pts(key, x, y, z) to cells(key, cell_id BIGINT).

    Column `cell_id` holds the raw 64 bits two's-complement, matching
    Spark LongType storage.
    """
    imax = LIMIT_IJ - 1
    return f"""
faced AS (
  SELECT key, x, y, z,
    CASE WHEN abs(x) > abs(y)
         THEN CASE WHEN abs(x) > abs(z) THEN 0 ELSE 2 END
         ELSE CASE WHEN abs(y) > abs(z) THEN 1 ELSE 2 END END AS axis
  FROM {pts_cte_name}
),
faced2 AS (
  SELECT key, x, y, z,
    CASE WHEN (CASE axis WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0
         THEN axis + 3 ELSE axis END AS face
  FROM faced
),
uv AS (
  SELECT key, face,
    CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
              WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
    CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
              WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
  FROM faced2
),
st AS (
  SELECT key, face,
    CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
    CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t
  FROM uv
),
ij AS (
  SELECT key, face,
    CAST(least(greatest({_rhe(f"{LIMIT_IJ}*s - 0.5")}, 0), {imax}) AS BIGINT) AS i,
    CAST(least(greatest({_rhe(f"{LIMIT_IJ}*t - 0.5")}, 0), {imax}) AS BIGINT) AS j
  FROM st
),
enc AS (
  SELECT key, i, j, 7 AS k,
         CAST(face AS HUGEINT) * CAST('{_FACE_SHIFT}' AS HUGEINT) AS n,
         CAST(face & 1 AS BIGINT) AS ob
  FROM ij
  UNION ALL
  SELECT e.key, e.i, e.j, e.k - 1,
         e.n + CAST(l.pos8 AS HUGEINT) * ({_SHIFT_CASE}),
         CAST(l.obits AS BIGINT)
  FROM enc e JOIN lp l
    ON l.idx = e.ob + (((e.i >> (e.k*4)) & 15) * 64) + (((e.j >> (e.k*4)) & 15) * 4)
  WHERE e.k >= 0
),
cells AS (
  SELECT key,
    CASE WHEN n*2+1 >= {_TWO63}
         THEN CAST(n*2+1 - {_TWO64} AS BIGINT)
         ELSE CAST(n*2+1 AS BIGINT) END AS cell_id
  FROM enc WHERE k = -1
)"""


def pip_loop_sql(pts_cte: str, loop_edges_cte: str) -> str:
    """Brute-force point-in-loop join: crossing-number parity of the
    edge (Origin -> P) against every loop edge, mirroring
    kernels.edges.crossing_parity_fast term-for-term (same IEEE ops in
    the same order) for bit-identical Spark/DuckDB answers.

    pts_cte supplies pts(key, x, y, z) (raw direction vectors);
    loop_edges_cte supplies loop_edges(region_id, cx..cz, dx..dz,
    origin_inside) with literal float64 vertices.
    """
    from ..kernels.edges import ORIGIN

    ax, ay, az = (f"CAST('{v!r}' AS DOUBLE)" for v in ORIGIN)
    sgn = "CASE WHEN {0} > 0 THEN 1 WHEN {0} < 0 THEN -1 ELSE 0 END"
    return f"""WITH {pts_cte},
{loop_edges_cte},
nrm AS (
  SELECT key, x, y, z,
         ({ay})*z - ({az})*y AS nx,
         ({az})*x - ({ax})*z AS ny,
         ({ax})*y - ({ay})*x AS nz
  FROM pts
),
ed AS (
  SELECT region_id, cx, cy, cz, dx, dy, dz, origin_inside,
         cy*dz - cz*dy AS cdx, cz*dx - cx*dz AS cdy, cx*dy - cy*dx AS cdz
  FROM loop_edges
),
pairs AS (
  SELECT n.key, n.x, n.y, n.z, e.region_id, e.origin_inside,
         e.cdx, e.cdy, e.cdz,
         ((n.nx*e.cx + n.ny*e.cy) + n.nz*e.cz) AS det_c,
         ((n.nx*e.dx + n.ny*e.dy) + n.nz*e.dz) AS det_d
  FROM nrm n CROSS JOIN ed e
),
sgns AS (
  SELECT key, region_id, origin_inside,
         {sgn.format('det_c')} AS s_c, {sgn.format('det_d')} AS s_d,
         ((cdx*x + cdy*y) + cdz*z) AS det_b,
         ((cdx*({ax}) + cdy*({ay})) + cdz*({az})) AS det_a
  FROM pairs
),
cr AS (
  SELECT key, region_id, origin_inside,
    CASE WHEN s_c <> s_d AND s_c <> 0 AND s_d <> 0
              AND {sgn.format('det_b')} = s_c
              AND {sgn.format('det_a')} = -s_c
         THEN 1 ELSE 0 END AS crossed
  FROM sgns
)
SELECT key, region_id FROM (
  SELECT key, region_id,
         SUM(crossed) AS ncross, MAX(origin_inside) AS oi
  FROM cr GROUP BY key, region_id
) WHERE (ncross + oi) % 2 = 1"""


def near_loop_sql(
    upts_cte: str, loop_edges_cte: str, radius_rad: float
) -> str:
    """Brute-force within-distance-of-loop join: for every (unit point,
    loop) pair, inside-parity OR min boundary-edge squared-chord
    distance <= chord2(radius).  Mirrors kernels.edges
    crossing_parity_fast + kernels.polyline.edge_distance2_batch
    term-for-term (including the runtime-folded scalar constants), so
    the Spark refine and this SQL agree bit-for-bit.

    upts_cte must provide upts(key, ux, uy, uz) UNIT vectors;
    loop_edges_cte provides loop_edges(region_id, cx..dz,
    origin_inside) with literal vertices.
    """
    from ..kernels.edges import DBL_EPS, ORIGIN
    from ..operators.spatial_join import near_chord2

    r2 = repr(near_chord2(radius_rad))
    k_err1 = repr(4.75 * DBL_EPS)           # folded scalar, as numpy does
    k_err2 = repr(8 * DBL_EPS * DBL_EPS)
    ax, ay, az = (f"CAST('{v!r}' AS DOUBLE)" for v in ORIGIN)
    sgn = "CASE WHEN {0} > 0 THEN 1 WHEN {0} < 0 THEN -1 ELSE 0 END"
    return f"""WITH {upts_cte},
{loop_edges_cte},
ed AS (
  SELECT region_id, cx, cy, cz, dx, dy, dz, origin_inside,
         (cy-dy)*(cz+dz) - (cz-dz)*(cy+dy) AS scx,
         (cz-dz)*(cx+dx) - (cx-dx)*(cz+dz) AS scy,
         (cx-dx)*(cy+dy) - (cy-dy)*(cx+dx) AS scz,
         ((cx-dx)*(cx-dx) + (cy-dy)*(cy-dy)) + (cz-dz)*(cz-dz) AS ab2,
         cy*dz - cz*dy AS pcx, cz*dx - cx*dz AS pcy, cx*dy - cy*dx AS pcz
  FROM loop_edges
),
ed2 AS (
  SELECT *, ((scx*scx + scy*scy) + scz*scz) AS c2 FROM ed
),
pair AS (
  SELECT p.key, p.ux, p.uy, p.uz, e.*,
    ((p.ux-e.cx)*(p.ux-e.cx) + (p.uy-e.cy)*(p.uy-e.cy)) + (p.uz-e.cz)*(p.uz-e.cz) AS xa2,
    ((p.ux-e.dx)*(p.ux-e.dx) + (p.uy-e.dy)*(p.uy-e.dy)) + (p.uz-e.dz)*(p.uz-e.dz) AS xb2,
    ((p.ux*e.scx + p.uy*e.scy) + p.uz*e.scz) AS x_dot_c,
    e.scy*p.uz - e.scz*p.uy AS cxx,
    e.scz*p.ux - e.scx*p.uz AS cxy,
    e.scx*p.uy - e.scy*p.ux AS cxz,
    (({ay})*p.uz - ({az})*p.uy) AS nx,
    (({az})*p.ux - ({ax})*p.uz) AS ny,
    (({ax})*p.uy - ({ay})*p.ux) AS nz
  FROM upts p CROSS JOIN ed2 e
),
de AS (
  SELECT key, region_id, origin_inside,
    CASE WHEN abs(xa2 - xb2) < ab2 + (CAST('{k_err1}' AS DOUBLE)*((xa2 + xb2) + ab2) + CAST('{k_err2}' AS DOUBLE))
              AND (((cx-ux)*cxx + (cy-uy)*cxy) + (cz-uz)*cxz) < 0
              AND (((dx-ux)*cxx + (dy-uy)*cxy) + (dz-uz)*cxz) > 0
         THEN (x_dot_c*x_dot_c/c2) + (1 - sqrt(((cxx*cxx + cxy*cxy) + cxz*cxz)/c2))*(1 - sqrt(((cxx*cxx + cxy*cxy) + cxz*cxz)/c2))
         ELSE least(xa2, xb2) END AS d2,
    CASE WHEN s_c <> s_d AND s_c <> 0 AND s_d <> 0
              AND {sgn.format('det_b')} = s_c
              AND {sgn.format('det_a')} = -s_c
         THEN 1 ELSE 0 END AS crossed
  FROM (
    SELECT *, {sgn.format('det_c')} AS s_c, {sgn.format('det_d')} AS s_d,
           ((pcx*ux + pcy*uy) + pcz*uz) AS det_b,
           ((pcx*({ax}) + pcy*({ay})) + pcz*({az})) AS det_a
    FROM (SELECT *,
            ((nx*cx + ny*cy) + nz*cz) AS det_c,
            ((nx*dx + ny*dy) + nz*dz) AS det_d
          FROM pair)
  )
)
SELECT key, region_id FROM (
  SELECT key, region_id, SUM(crossed) AS ncross, MAX(origin_inside) AS oi,
         MIN(d2) AS min_d2
  FROM de GROUP BY key, region_id
) WHERE (ncross + oi) % 2 = 1 OR min_d2 <= CAST('{r2}' AS DOUBLE)"""


def parent_sql(cell_expr: str, level: int) -> str:
    """Ancestor bit trick on raw signed bits, same as sparkfns.cell_parent."""
    lsb = 1 << (2 * (MAX_LEVEL - level))
    return f"((({cell_expr}) & CAST(-{lsb} AS BIGINT)) | {lsb})"


def token_sql(cell_expr: str) -> str:
    """Uppercase-hex trailing-zero-stripped token in DuckDB."""
    hex16 = f"lpad(upper(to_hex({cell_expr})), 16, '0')"
    return (
        f"CASE WHEN ({cell_expr}) = 0 THEN 'X' "
        f"ELSE regexp_replace({hex16}, '0+$', '') END"
    )


def cellid_nav_sql(base_ctes: str, level: int = 12) -> str:
    """Independent Hilbert-order navigation oracle (S2CellId.cs
    Next/Prev/Advance/CommonAncestorLevel) in DuckDB HUGEINT
    arithmetic: cell ids are lifted from raw signed-64 bits to their
    unsigned value, navigated with exact 128-bit integer ops (mod-2^64
    wrap at the cube ends), and mapped back.  The msb for
    CommonAncestorLevel is computed exactly via bit-smear + bit_count
    (no float log2 — doubles round 2^63-adjacent values).

    `base_ctes` must provide cells(key, cell_id).
    """
    lsb = 1 << (2 * (MAX_LEVEL - level))
    shift = 2 * (MAX_LEVEL - level) + 1
    two63 = 1 << 63
    two64 = 1 << 64
    wrap = 6 << (2 * MAX_LEVEL + 1)  # 6 << 61: one past face 5
    p12 = parent_sql("cell_id", level)
    to_u = (
        "CASE WHEN {s} < 0 THEN CAST({s} AS HUGEINT) + " + str(two64) +
        " ELSE CAST({s} AS HUGEINT) END"
    )
    to_i = (
        "CASE WHEN {u} >= " + str(two63) + " THEN CAST({u} - " + str(two64) +
        " AS BIGINT) ELSE CAST({u} AS BIGINT) END"
    )
    return f"""{base_ctes},
navp AS (
  SELECT key, {p12} AS p FROM cells
),
navl AS (
  SELECT key, p, LEAD(p) OVER (ORDER BY key) AS q,
         key % 1001 - 500 AS steps
  FROM navp
),
navu AS (
  SELECT key, CAST(steps AS HUGEINT) AS steps,
         {to_u.format(s="p")} AS up,
         {to_u.format(s="q")} AS uq
  FROM navl WHERE q IS NOT NULL
),
navv AS (
  SELECT key,
    (up + {2 * lsb}) % {two64} AS nx,
    (up - {2 * lsb} + {two64}) % {two64} AS pv,
    up + (GREATEST(-(up >> {shift}),
                   LEAST(steps, ({wrap} + {lsb} - up) >> {shift}))
          * {1 << shift}) AS av,
    GREATEST(xor(up, uq), CAST({lsb} AS HUGEINT)) AS bits
  FROM navu
),
navs AS (
  -- sequential bit-smear: after step k every bit below the msb within
  -- 2^k positions is set, so six doublings cover all 64 bits
  SELECT key, nx, pv, av, s5 | (s5 >> 32) AS sm
  FROM (SELECT key, nx, pv, av, s4 | (s4 >> 16) AS s5
  FROM (SELECT key, nx, pv, av, s3 | (s3 >> 8) AS s4
  FROM (SELECT key, nx, pv, av, s2 | (s2 >> 4) AS s3
  FROM (SELECT key, nx, pv, av, s1 | (s1 >> 2) AS s2
  FROM (SELECT key, nx, pv, av, bits | (bits >> 1) AS s1
        FROM navv)))))
)
SELECT key,
  {to_i.format(u="nx")} AS next12,
  {to_i.format(u="pv")} AS prev12,
  {to_i.format(u="av")} AS adv12,
  CAST(GREATEST(60 - (bit_count(sm) - 1), -1) >> 1 AS BIGINT) AS ca_level
FROM navs"""


def _is_level_sql(expr: str, level: int) -> str:
    lsb = 1 << (2 * (MAX_LEVEL - level))
    return f"(({expr}) & {2 * lsb - 1}) = {lsb}"


def _bias_sql(expr: str) -> str:
    return f"xor({expr}, CAST('-9223372036854775808' AS BIGINT))"


def cellunion_ops_sql(base_ctes: str, n_groups: int = 16) -> str:
    """Relational S2CellUnion Normalize + Intersection oracle
    (S2Region/S2CellUnion.cs): grouped mixed-level cells (level
    8 + key%3) are normalized by containment anti-joins (ancestor
    levels 8 then 9) and three sibling-quadruple merge rounds
    (10->9->8->7, a bounded unroll of the reference fixed point —
    deeper quadruples cannot survive at these data scales, asserted
    against the exhaustive scalar kernel in tests), then each group's
    union is intersected with its successor group's via unsigned
    range-overlap (bias trick), emitting the deeper cell.

    `base_ctes` must provide cells(key, cell_id).
    """
    p = {lv: parent_sql("cell_id", lv) for lv in (8, 9, 10)}

    def merge_round(src: str, child: int, mname: str, sname: str) -> str:
        par = parent_sql("cell", child - 1)
        is_child = _is_level_sql("cell", child)
        return f"""{mname} AS MATERIALIZED (
  SELECT g, {par} AS p FROM {src}
  WHERE {is_child}
  GROUP BY 1, 2 HAVING COUNT(DISTINCT cell) = 4
),
{sname} AS MATERIALIZED (
  SELECT g, cell FROM {src} t
  WHERE NOT ({is_child.replace('cell', 't.cell')} AND EXISTS (
    SELECT 1 FROM {mname} m
    WHERE m.g = t.g AND m.p = {par.replace('cell', 't.cell')}))
  UNION ALL SELECT g, p AS cell FROM {mname}
)"""

    def anc_round(src: str, out: str, anc: int) -> str:
        holder = _is_level_sql("a.cell", anc)
        deeper = f"NOT ({_is_level_sql('t.cell', anc)})"
        par = parent_sql("t.cell", anc)
        return f"""{out} AS MATERIALIZED (
  SELECT g, cell FROM {src} t
  WHERE NOT ({deeper} AND EXISTS (
    SELECT 1 FROM {src} a WHERE a.g = t.g AND {holder} AND a.cell = {par}))
)"""

    rngs = {
        s: (
            f"{s}.cell - (({s}.cell & -({s}.cell)) - 1)",
            f"{s}.cell + (({s}.cell & -({s}.cell)) - 1)",
        )
        for s in ("a", "b")
    }
    a_min, a_max = (_bias_sql(e) for e in rngs["a"])
    b_min, b_max = (_bias_sql(e) for e in rngs["b"])
    return f"""{base_ctes},
cuc AS MATERIALIZED (
  SELECT key % {n_groups} AS g,
    CASE key % 3 WHEN 0 THEN {p[8]} WHEN 1 THEN {p[9]} ELSE {p[10]} END AS cell
  FROM cells
),
cu0 AS MATERIALIZED (SELECT DISTINCT g, cell FROM cuc),
{anc_round("cu0", "cu1", 8)},
{anc_round("cu1", "cu2", 9)},
{merge_round("cu2", 10, "m10", "s10")},
{merge_round("s10", 9, "m9", "s9")},
{merge_round("s9", 8, "m8", "cunorm")},
cuinter AS MATERIALIZED (
  SELECT DISTINCT a.g AS g,
    CASE WHEN {a_min} <= {b_min} AND {b_max} <= {a_max}
         THEN b.cell ELSE a.cell END AS cell
  FROM cunorm a JOIN cunorm b
    ON b.g = (a.g + 1) % {n_groups}
   AND {b_min} <= {a_max} AND {b_max} >= {a_min}
)
SELECT 'norm' AS part, g, cell FROM cunorm
UNION ALL
SELECT 'inter' AS part, g, cell FROM cuinter"""


def earth_metrics_sql(modulus: int = 10) -> str:
    """Independent S2Earth/S2Metrics oracle (S2Earth.cs, S2Metrics.cs):
    conversions are plain double arithmetic; the level pickers'
    frexp-exponent arithmetic is re-implemented as a floor(log2)
    CORRECTED by exact power-of-two compares (a rounded log2 alone is
    off by one when the ratio sits next to 2^k; power(2.0, k) is exact
    for |k| < 1024, so the compare repairs it)."""
    from ..constants import (
        KAVG_AREA_DERIV,
        KAVG_EDGE_DERIV,
        KMIN_WIDTH_DERIV,
        MAX_LEVEL,
    )
    from ..kernels.earth import RADIUS_KM, RADIUS_METERS

    def d(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    def flog2(x: str) -> str:
        e0 = f"CAST(floor(log2({x})) AS BIGINT)"
        return (
            f"({e0} + CASE WHEN ({x}) >= power(2.0, {e0} + 1) THEN 1 ELSE 0 END"
            f" - CASE WHEN ({x}) < power(2.0, {e0}) THEN 1 ELSE 0 END)"
        )

    def clamp(lv: str) -> str:
        return f"GREATEST(0, LEAST({MAX_LEVEL}, {lv}))"

    sqrt2 = "sqrt(2.0)"
    minw, avge, avga = (
        d(KMIN_WIDTH_DERIV), d(KAVG_EDGE_DERIV), d(KAVG_AREA_DERIV)
    )
    return f"""WITH em0 AS (
  SELECT o_orderkey AS key,
         CAST((o_orderkey % 100000) + 1 AS DOUBLE) * 37.5 AS meters
  FROM orders WHERE o_orderkey % {modulus} = 0
),
em1 AS (
  SELECT key, meters / {d(RADIUS_METERS)} AS rad FROM em0
),
emr AS MATERIALIZED (
  SELECT key, rad, rad * {d(RADIUS_KM)} AS km,
         {clamp(f"-{flog2(f'(rad / {minw})')}")} AS l1,
         {clamp(flog2(f'({avge} / rad)'))} AS l2,
         {clamp(f"-({flog2(f'(rad / {avga})')} >> 1)")} AS l3,
         {clamp(f"-{flog2(f'(({sqrt2} * rad) / {avge})')}")} AS l4
  FROM em1
)
SELECT key, rad, km,
  CAST(l1 AS INT) AS lvl_minw_max,
  CAST(l2 AS INT) AS lvl_avge_min,
  CAST(l3 AS INT) AS lvl_avga_max,
  CAST(l4 AS INT) AS lvl_closest,
  {minw} * power(2.0, -l1) AS val_minw,
  {avga} * power(2.0, -2 * l3) AS val_avga
FROM emr"""
