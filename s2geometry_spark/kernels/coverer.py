"""RegionCoverer: priority-queue cell covering of a region.

Driver-side port preserving the reference's exact refinement order,
priority formula and canonicalization (S2RegionCoverer.cs:315-556 —
NewCandidate :326-356, AddCandidate :375-423 incl. the priority
``-((((level << shift) + num_children) << shift) + num_terminals)``,
GetCoveringInternal :472-540, CanonicalizeCovering :218-313), so that
coverings are bit-identical to the reference for the same region.

Regions are the small dim side; this never runs distributed.  The
output feeds the broadcast covering table of the spatial join.

Coverer cells are plain-int ``geom.Cell`` values and the cell-id
arithmetic here (levels, parents, neighbors, validity) is in Python
ints, so neither makes a numpy call per cell: 1-element ufunc dispatch
would cost far more than the arithmetic.  Only a region's own
predicate may (``loop.Loop`` tests a cell against all its edges in one
vectorized pass).
"""

from __future__ import annotations

import heapq
import itertools
from dataclasses import dataclass, field

from ..constants import MAX_LEVEL, NUM_FACES, POS_BITS
from . import cellid as CI
from . import cellunion as CU
from .geom import Cell, Region

DEFAULT_MAX_CELLS = 8


@dataclass
class CovererOptions:
    max_cells: int = DEFAULT_MAX_CELLS
    min_level: int = 0
    max_level: int = MAX_LEVEL
    level_mod: int = 1

    @property
    def true_max_level(self) -> int:
        if self.level_mod == 1:
            return self.max_level
        return self.max_level - (self.max_level - self.min_level) % self.level_mod


class _Candidate:
    __slots__ = ("cell", "is_terminal", "children")

    def __init__(self, cell: Cell, is_terminal: bool):
        self.cell = cell
        self.is_terminal = is_terminal
        self.children: list[_Candidate] = []


class RegionCoverer:
    def __init__(self, options: CovererOptions | None = None):
        self.options = options or CovererOptions()
        self._pq: list = []
        self._counter = itertools.count()  # FIFO tie-break like a stable pq
        self._interior = False
        self._result: list[int] = []

    # -- public API ----------------------------------------------------

    def get_covering(self, region: Region) -> list[int]:
        self._interior = False
        return self._get_covering_internal(region)

    def get_interior_covering(self, region: Region) -> list[int]:
        self._interior = True
        return self._get_covering_internal(region)

    def get_fast_covering(self, region: Region) -> list[int]:
        ids = list(region.get_cell_union_bound())
        self.canonicalize_covering(ids)
        return ids

    # -- internals -----------------------------------------------------

    def _max_children_shift(self) -> int:
        return 2 * self.options.level_mod

    def _new_candidate(self, cell: Cell, region: Region) -> _Candidate | None:
        if not region.may_intersect_cell(cell):
            return None
        is_terminal = False
        if cell.level >= self.options.min_level:
            if self._interior:
                if region.contains_cell(cell):
                    is_terminal = True
                elif cell.level + self.options.level_mod > self.options.max_level:
                    return None
            else:
                if (
                    cell.level + self.options.level_mod > self.options.max_level
                    or region.contains_cell(cell)
                ):
                    is_terminal = True
        return _Candidate(cell, is_terminal)

    def _expand_children(
        self, candidate: _Candidate, cell: Cell, num_levels: int, region: Region
    ) -> int:
        num_levels -= 1
        num_terminals = 0
        for child_cell in cell.children():
            if num_levels > 0:
                if region.may_intersect_cell(child_cell):
                    num_terminals += self._expand_children(
                        candidate, child_cell, num_levels, region
                    )
                continue
            child = self._new_candidate(child_cell, region)
            if child is not None:
                candidate.children.append(child)
                if child.is_terminal:
                    num_terminals += 1
        return num_terminals

    def _add_candidate(self, candidate: _Candidate | None, region: Region) -> None:
        if candidate is None:
            return
        if candidate.is_terminal:
            self._result.append(candidate.cell.id)
            return
        assert not candidate.children
        num_levels = (
            1 if candidate.cell.level < self.options.min_level else self.options.level_mod
        )
        num_terminals = self._expand_children(
            candidate, candidate.cell, num_levels, region
        )
        shift = self._max_children_shift()
        if not candidate.children:
            pass  # discard
        elif (
            not self._interior
            and num_terminals == 1 << shift
            and candidate.cell.level >= self.options.min_level
        ):
            # all children terminal: use the parent instead
            candidate.is_terminal = True
            self._add_candidate(candidate, region)
        else:
            # Refine the largest cells first; among equal sizes prefer
            # fewer children, then fewer terminal children
            # (S2RegionCoverer.cs:412-421 heuristic; the C++ original's
            # max-heap over negated priorities — heapq is a min-heap, so
            # the priority is positive here).
            priority = (
                (((candidate.cell.level << shift) + len(candidate.children)) << shift)
                + num_terminals
            )
            heapq.heappush(self._pq, (priority, next(self._counter), candidate))

    def _adjust_level(self, level: int) -> int:
        if self.options.level_mod > 1 and level > self.options.min_level:
            level -= (level - self.options.min_level) % self.options.level_mod
        return level

    def _adjust_cell_levels(self, cells: list[int]) -> list[int]:
        if self.options.level_mod == 1:
            return cells
        out: list[int] = []
        for cid in cells:
            level = CU._level(cid)
            new_level = self._adjust_level(level)
            if new_level != level:
                cid = CU._parent(cid, new_level)
            if out and CU._contains(out[-1], cid):
                continue
            while out and CU._contains(cid, out[-1]):
                out.pop()
            out.append(cid)
        return out

    def _get_initial_candidates(self, region: Region) -> None:
        tmp = RegionCoverer(
            CovererOptions(
                max_cells=min(4, self.options.max_cells),
                max_level=self.options.max_level,
            )
        )
        cells = tmp.get_fast_covering(region)
        cells = self._adjust_cell_levels(cells)
        for cid in cells:
            self._add_candidate(self._new_candidate(Cell(cid), region), region)

    def _get_covering_internal(self, region: Region) -> list[int]:
        assert self.options.min_level <= self.options.max_level
        assert not self._pq
        self._result = []
        self._get_initial_candidates(region)
        while self._pq and (
            not self._interior or len(self._result) < self.options.max_cells
        ):
            _, _, candidate = heapq.heappop(self._pq)
            if (
                self._interior
                or candidate.cell.level < self.options.min_level
                or len(candidate.children) == 1
                or (
                    len(self._result) + len(self._pq) + len(candidate.children)
                    <= self.options.max_cells
                )
            ):
                for child in candidate.children:
                    if self._interior and len(self._result) >= self.options.max_cells:
                        pass
                    else:
                        self._add_candidate(child, region)
            else:
                candidate.is_terminal = True
                candidate.children = []
                self._add_candidate(candidate, region)
        self._pq.clear()
        result = CU.normalize(self._result)
        if self.options.min_level > 0 or self.options.level_mod > 1:
            result = CU.denormalize(
                result, self.options.min_level, self.options.level_mod
            )
        self._result = []
        return result

    # -- canonicalization (S2RegionCoverer.cs:218-313) -------------------

    def is_canonical(self, covering: list[int]) -> bool:
        min_level = self.options.min_level
        max_level = self.options.true_max_level
        level_mod = self.options.level_mod
        too_many = len(covering) > self.options.max_cells
        same_parent_count = 1
        prev: int | None = None
        for cid in covering:
            # S2CellId.IsValid: a face below 6 and an even-position lsb
            if (cid >> POS_BITS) >= NUM_FACES or not (
                CU._lsb(cid) & 0x1555555555555555
            ):
                return False
            level = CU._level(cid)
            if level < min_level or level > max_level:
                return False
            if level_mod > 1 and (level - min_level) % level_mod != 0:
                return False
            if prev is not None:
                if CU._range_max(prev) >= CU._range_min(cid):
                    return False
                if too_many and _common_ancestor_level(cid, prev) >= min_level:
                    return False
                plevel = level - level_mod
                if (
                    plevel < min_level
                    or level != CU._level(prev)
                    or CU._parent(cid, plevel) != CU._parent(prev, plevel)
                ):
                    same_parent_count = 1
                else:
                    same_parent_count += 1
                    if same_parent_count == 1 << (2 * level_mod):
                        return False
            prev = cid
        return True

    def canonicalize_covering(self, covering: list[int]) -> None:
        if self.options.max_level < MAX_LEVEL or self.options.level_mod > 1:
            for i, cid in enumerate(covering):
                level = CU._level(cid)
                new_level = self._adjust_level(min(level, self.options.max_level))
                if new_level != level:
                    covering[i] = CU._parent(cid, new_level)
        covering[:] = CU.normalize(covering)
        if self.options.min_level > 0 or self.options.level_mod > 1:
            covering[:] = CU.denormalize(
                covering, self.options.min_level, self.options.level_mod
            )
        excess = len(covering) - self.options.max_cells
        if excess <= 0 or self.is_canonical(covering):
            return
        if excess * len(covering) > 10000:
            covering[:] = self.get_covering(_CellUnionRegion(covering))
            return
        # repeatedly merge the adjacent pair with the deepest common ancestor
        while len(covering) > self.options.max_cells:
            best_index, best_level = -1, -1
            for i in range(len(covering) - 1):
                level = _common_ancestor_level(covering[i], covering[i + 1])
                level = self._adjust_level(level)
                if level > best_level:
                    best_level = level
                    best_index = i
            if best_level < self.options.min_level:
                break
            cid = CU._parent(covering[best_index], best_level)
            _replace_cells_with_ancestor(covering, cid)
            while best_level > self.options.min_level:
                best_level -= self.options.level_mod
                cid = CU._parent(cid, best_level)
                if not self._contains_all_children(covering, cid):
                    break
                _replace_cells_with_ancestor(covering, cid)

    def _contains_all_children(self, covering: list[int], cid: int) -> bool:
        import bisect

        it = bisect.bisect_left(covering, CU._range_min(cid))
        level = CU._level(cid) + self.options.level_mod
        step = 1 << (2 * (MAX_LEVEL - level) + 1)
        begin = cid - CU._lsb(cid) + (step >> 1)
        end = cid + CU._lsb(cid) + (step >> 1)
        for child in range(begin, end, step):
            if it == len(covering) or covering[it] != child:
                return False
            it += 1
        return True


class _CellUnionRegion(Region):
    """Region adapter over a normalized cell union (used by
    CanonicalizeCovering's recovering path, mirroring
    S2CellUnion : IS2Region)."""

    def __init__(self, ids: list[int]):
        self.ids = CU.normalize(list(ids))

    def get_cap_bound(self):
        # cap bound of the rect bound of all cells — conservative,
        # only used to seed the fast covering.
        from .geom import Cap

        cap = Cap((1.0, 0.0, 0.0), -1.0)
        for cid in self.ids:
            cap = cap.add_point(Cell(cid).center())
        if cap.is_empty():
            return cap
        # expand by the maximum cell circumradius at the coarsest level
        from .geom import chord_add, chord_from_radians

        from ..constants import KMAX_DIAG

        min_level = min(CU._level(c) for c in self.ids)
        cap.radius2 = chord_add(
            cap.radius2, chord_from_radians(0.5 * KMAX_DIAG.get_value(min_level))
        )
        return cap

    def get_cell_union_bound(self) -> list[int]:
        return list(self.ids)

    def contains_cell(self, cell: Cell) -> bool:
        return CU.contains_id(self.ids, cell.id)

    def may_intersect_cell(self, cell: Cell) -> bool:
        return CU.intersects_id(self.ids, cell.id)

    def contains_point(self, p) -> bool:
        return CU.contains_id(self.ids, CI.xyz_to_cellid_one(*p))


def _common_ancestor_level(a: int, b: int) -> int:
    bits = max(a ^ b, CU._lsb(a), CU._lsb(b))
    return max(60 - (bits.bit_length() - 1), -1) >> 1


def _replace_cells_with_ancestor(covering: list[int], cid: int) -> None:
    import bisect

    begin = bisect.bisect_left(covering, CU._range_min(cid))
    end = bisect.bisect_right(covering, CU._range_max(cid))
    assert begin != end
    covering[begin:end] = [cid]


def flood_fill(region: Region, start: int) -> list[int]:
    """All edge-connected cells at start's level that intersect the
    region, BFS from `start` (S2RegionCoverer.FloodFill).  Returns
    sorted uint64-valued cell ids."""
    visited = {int(start)}
    frontier = [int(start)]
    out: list[int] = []
    while frontier:
        cid = frontier.pop()
        if not region.may_intersect_cell(Cell(cid)):
            continue
        out.append(cid)
        for nbr in CI._edge_neighbors_one(cid):
            if nbr not in visited:
                visited.add(nbr)
                frontier.append(nbr)
    return sorted(out)


def get_simple_covering(region: Region, start_point, level: int) -> list[int]:
    """Simple fixed-level covering by flood fill from the cell of
    `start_point` (S2RegionCoverer.GetSimpleCovering).  The start point
    should be contained by the region (all cells returned intersect
    the region and are edge-connected to the start cell)."""
    start = CU._parent(CI.xyz_to_cellid_one(*start_point), level)
    return flood_fill(region, start)
