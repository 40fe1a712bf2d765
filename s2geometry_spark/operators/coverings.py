"""Region dim-table -> exploded covering table.

Driver-side coverer over the (small) region side, exploded into rows
(region_id, cov_cell, level, is_interior) for the covering-term
equi-join ``spatial_join.covering_join`` (SURVEY.md §2.4, after
Index/S2RegionTermIndexer.cs:80-135).  The covering table is
broadcast; at 10^12-image scale the probe side streams through a hash
join with zero shuffle of the fact table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import cellid as CI
from ..kernels import cellunion as CU
from ..kernels.coverer import CovererOptions, RegionCoverer
from ..kernels.geom import Cell, Region


def build_covering_rows(
    regions: list[tuple[object, Region]],
    options: CovererOptions | None = None,
    interior: bool = False,
) -> pd.DataFrame:
    """Compute coverings for (region_id, Region) pairs on the driver.

    Returns pandas DataFrame (region_id, cov_cell int64 raw bits, level,
    is_interior).  For exterior coverings is_interior marks covering
    cells that are entirely contained in the region (cheap PIP skip at
    refine time, mirroring MutableS2ShapeIndex contains_center).
    """
    rc = RegionCoverer(options or CovererOptions())
    rows, cells = [], []
    for region_id, region in regions:
        cov = (
            rc.get_interior_covering(region) if interior else rc.get_covering(region)
        )
        for cid in cov:
            is_int = bool(region.contains_cell(Cell(cid)))
            rows.append((region_id, CU._level(cid), is_int))
            cells.append(cid)
    pdf = pd.DataFrame(rows, columns=["region_id", "level", "is_interior"])
    pdf.insert(1, "cov_cell", CI.as_i64(np.array(cells, np.uint64)))
    return pdf.astype(
        {"cov_cell": "int64", "level": "int32", "is_interior": "bool"}
    )


def covering_levels(pdf_or_df) -> list[int]:
    """Distinct levels present in a covering table — the probe side only
    explodes ancestors at these levels."""
    if isinstance(pdf_or_df, pd.DataFrame):
        return sorted(int(v) for v in pdf_or_df["level"].unique())
    return sorted(
        r["level"] for r in pdf_or_df.select("level").distinct().collect()
    )


def covering_kind_rows(key: int, rc, rc_canon, i64) -> list[tuple]:
    """All (key, kind, ord, cell_id) rows for one deterministic cap —
    the single definition shared by the distributed generator and the
    driver-side literal oracle (the oracle's contract is distributed ==
    single-node through the SAME kernels, so a second copy would be
    pure drift risk, not independence)."""
    from ..kernels.geom import Cap, RegionIntersection, RegionUnion
    from ..sources import regions_src as R

    cx, cy, cz, r2 = R.cap_params(int(key))
    cap = Cap((cx, cy, cz), r2)
    rows = []
    cov = rc.get_covering(cap)
    rows.extend((key, "cov", i, i64(c)) for i, c in enumerate(cov))
    rows.extend(
        (key, "int", i, i64(c))
        for i, c in enumerate(rc.get_interior_covering(cap))
    )
    canon = list(cov)
    rc_canon.canonicalize_covering(canon)
    rows.extend((key, "canon", i, i64(c)) for i, c in enumerate(canon))
    nx, ny, nz, nr2 = R.cap_params(int(key) + 1)
    rows.extend(
        (key, "union", i, i64(c))
        for i, c in enumerate(
            rc.get_covering(RegionUnion([cap, Cap((nx, ny, nz), nr2)]))
        )
    )
    wide = Cap((cx, cy, cz), min(4.0, r2 * 4.0))
    rows.extend(
        (key, "rint", i, i64(c))
        for i, c in enumerate(
            rc.get_covering(RegionIntersection([cap, wide]))
        )
    )
    # GetSimpleCovering: fixed-level flood fill from the cap center
    # (S2RegionCoverer.GetSimpleCovering) at one level finer than the
    # coarsest GetCovering cell — deterministic and bounded (~4x the
    # adaptive covering size)
    from ..kernels.coverer import get_simple_covering

    lvl = min(30, min(CU._level(c) for c in cov) + 1)
    rows.extend(
        (key, "simple", i, i64(c))
        for i, c in enumerate(
            get_simple_covering(cap, (cx, cy, cz), lvl)
        )
    )
    return rows


def cap_covering_rows_df(
    keys_df: DataFrame, max_cells: int = 8
) -> DataFrame:
    """Distributed coverer: one covering per input row's deterministic
    cap (sources.regions_src.cap_params), exploded to
    (key, kind, ord, cell_id) with kind in
    {'cov' GetCovering, 'int' GetInteriorCovering,
     'canon' CanonicalizeCovering(max_cells=6, min_level=2, level_mod=2),
     'union' GetCovering(S2RegionUnion(cap, next cap)),
     'rint'  GetCovering(S2RegionIntersection(cap, widened cap))}.

    `ord` is the position in the reference output order, so the oracle
    pins the exact priority-queue refinement order, not just the set.
    Region-level parallelism is the scale axis: each covering is an
    O(max_cells) tree search, and a 10^8-region table fans out
    perfectly over executors (mapInPandas, Arrow batches in, no
    driver involvement).
    """
    import numpy as np

    from ..kernels.coverer import CovererOptions, RegionCoverer

    def gen(batches):
        rc = RegionCoverer(CovererOptions(max_cells=max_cells))
        rc_canon = RegionCoverer(
            CovererOptions(max_cells=6, min_level=2, level_mod=2)
        )

        def i64(c):
            return int(np.int64(np.uint64(c)))

        for pdf in batches:
            rows = []
            for key in pdf["key"].tolist():
                rows.extend(covering_kind_rows(key, rc, rc_canon, i64))
            yield pd.DataFrame(
                rows, columns=["key", "kind", "ord", "cell_id"]
            ).astype(
                {"key": "int64", "kind": "object", "ord": "int32",
                 "cell_id": "int64"}
            )

    return keys_df.mapInPandas(
        gen, schema="key long, kind string, ord int, cell_id long"
    )
