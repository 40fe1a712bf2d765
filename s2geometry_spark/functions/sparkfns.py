"""Pure-JVM Column functions for cell-id bit arithmetic.

These stay inside Catalyst/whole-stage-codegen (no Python, no Arrow
transfer): parent/tiling, unsigned-order bias, range predicates and
token formatting are all two's-complement bit tricks that behave
identically on the raw signed-64 storage of unsigned cell ids
(SURVEY.md §1.1).  Reference semantics: S2CellId.cs:372-467.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import MAX_LEVEL

_MIN_LONG = -(1 << 63)


def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def cell_parent(cell_id: Column, level: int) -> Column:
    """Ancestor cell at `level` (pure bit arithmetic, JVM-side).

    parent = (id & -lsb) | lsb — identical on raw signed bits.
    """
    lsb = lsb_for_level(level)
    return cell_id.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))


def cell_bias(cell_id: Column) -> Column:
    """Signed sort key order-isomorphic to unsigned cell-id order."""
    return cell_id.bitwiseXOR(F.lit(_MIN_LONG))


def cell_range_min(cell_id: Column, level: int) -> Column:
    """range_min of the level-`level` ancestor of cell_id (leaf id)."""
    lsb = lsb_for_level(level)
    return cell_parent(cell_id, level) - F.lit(lsb - 1)


def cell_range_max(cell_id: Column, level: int) -> Column:
    lsb = lsb_for_level(level)
    return cell_parent(cell_id, level) + F.lit(lsb - 1)


def cell_token(cell_id: Column) -> Column:
    """Uppercase-hex trailing-zero-stripped token (S2CellId.cs:647-665),
    JVM-side string ops."""
    hex16 = F.lpad(F.hex(cell_id), 16, "0")
    stripped = F.regexp_replace(hex16, "0+$", "")
    return F.when(cell_id == 0, F.lit("X")).otherwise(stripped)
