"""Faithful port of the S2RegionCoverer algorithm (default options).

Reproduces s2geometry's covering construction — initial candidates
from the region's cap bound + vertex neighbors, the priority-queue
subdivision with (level, num_children, num_terminals) priorities, and
terminal detection via region containment — so that ``s2_covering``
output can match the reference's golden cell lists
(test/sql/geography/bounds.test:8-16).

The coverer works by generation: the initial candidates, and the
children a popped candidate is about to add, have their own children
classified in one call to the region's ``_classify`` (``_GeogRegion``
in s2/coverer.py). Each child tests only the region edges that reach
its parent, which the candidate carries. The tests are pure functions
of the cell, so S2's priority order and budget test see exactly the
values the one-cell-at-a-time loop did.
"""

from __future__ import annotations

import heapq
import math
from typing import List, Optional

import numpy as np

from . import cellmath as cm

U64 = np.uint64
MAX_LEVEL = 30
#: kMinWidth.deriv for the quadratic projection (s2metrics)
K_MIN_WIDTH_DERIV = 2.0 * math.sqrt(2.0) / 3.0


def min_width_level_for_value(value: float) -> int:
    """S2::kMinWidth.GetLevelForMinValue: max level whose min cell
    width is still >= value."""
    if value <= 0:
        return MAX_LEVEL
    level = int(math.floor(math.log2(K_MIN_WIDTH_DERIV / value)))
    return max(0, min(MAX_LEVEL, level))


def vertex_neighbors(cell: np.uint64, level: int) -> List[np.uint64]:
    """S2CellId::AppendVertexNeighbors: the <=4 cells at ``level``
    (coarser than this cell) touching this cell's closest vertex."""
    arr = np.array([cell], dtype=np.uint64)
    face, i, j, _ = cm.to_face_ij_orientation(arr)
    i_i, j_i = int(i[0]), int(j[0])
    halfsize = 1 << (MAX_LEVEL - level - 1)
    size = halfsize * 2
    if i_i & halfsize:
        ioffset, isame = size, (i_i + size) < cm.MAX_SIZE
    else:
        ioffset, isame = -size, (i_i - size) >= 0
    if j_i & halfsize:
        joffset, jsame = size, (j_i + size) < cm.MAX_SIZE
    else:
        joffset, jsame = -size, (j_i - size) >= 0
    ii = [i_i + ioffset, i_i]
    jj = [j_i, j_i + joffset]
    if isame or jsame:
        ii.append(i_i + ioffset)
        jj.append(j_i + joffset)
    # off-face (i, j) wrap onto the neighboring face; on-face ones are
    # plain from_face_ij
    leaves = cm._from_face_ij_wrap(np.full(len(ii), int(face[0])), np.array(ii), np.array(jj))
    cells = cm.parent(np.concatenate([arr, leaves]), np.full(len(ii) + 1, level))
    return [U64(c) for c in cells]


class _Candidate:
    __slots__ = ("row", "level", "is_terminal", "children", "edges")

    def __init__(self, row, level, is_terminal, edges):
        self.row = row  # (id, face, i, j, size, orientation) of the cell
        self.level = level
        self.is_terminal = is_terminal
        self.children: List["_Candidate"] = []
        self.edges = edges  # indices of the region edges that reach the cell

    @property
    def cell(self) -> int:
        return self.row[0]


def _classified(region, cells, pairs, level: int) -> List[Optional[_Candidate]]:
    """One region call for a batch of cells at ``level``: a candidate
    per cell that may intersect the region, None for the others, in
    batch order."""
    may, contains, (pair_cell, edges) = region._classify(cells, *pairs)
    # pairs come, and are kept, grouped by cell in batch order
    bounds = np.searchsorted(pair_cell, np.arange(len(cells) + 1)).tolist()
    terminal = contains | (level == MAX_LEVEL)
    rows = zip(cells.ids.tolist(), cells.face.tolist(), cells.i.tolist(),
               cells.j.tolist(), cells.size.tolist(), cells.orient.tolist())
    return [
        _Candidate(row, level, bool(terminal[k]), edges[bounds[k]:bounds[k + 1]])
        if may[k] else None
        for k, row in enumerate(rows)
    ]


class RegionCoverer:
    """Default-options S2RegionCoverer (max_cells configurable,
    min_level 0, max_level 30, level_mod 1, non-interior)."""

    MAX_CHILDREN_SHIFT = 2  # level_mod 1 -> 4 children

    def __init__(self, region, max_cells: int = 8):
        self.region = region
        self.max_cells = max_cells
        self.result: List[int] = []
        self.pq: List = []
        self._seq = 0

    def _expand_children(self, parents: List[_Candidate]) -> None:
        """Set the children of every parent from one batched region call;
        each child tests only the edges that reach its parent."""
        cols = list(zip(*(p.row for p in parents)))
        cells = cm.Cells(
            np.array(cols[0], dtype=np.uint64), *(np.array(c, dtype=np.int64) for c in cols[1:])
        ).children()
        sizes = np.repeat([len(p.edges) for p in parents], 4)
        pair_cell = np.repeat(np.arange(len(cells)), sizes)
        pair_edge = np.concatenate([np.tile(p.edges, 4) for p in parents])
        kids = _classified(self.region, cells, (pair_cell, pair_edge), parents[0].level + 1)
        for n, p in enumerate(parents):
            p.children = [k for k in kids[4 * n : 4 * n + 4] if k is not None]

    def _add_candidates(self, cands: List[_Candidate]) -> None:
        """S2's AddCandidate for each candidate in order; the children of
        all the non-terminal ones are classified first, together (the
        tests are pure functions of the cell, so no decision changes)."""
        todo = [c for c in cands if not c.is_terminal]
        if todo:
            self._expand_children(todo)
        for candidate in cands:
            if candidate.is_terminal:
                self.result.append(candidate.cell)
                continue
            if not candidate.children:
                continue
            num_terminals = sum(c.is_terminal for c in candidate.children)
            if num_terminals == 4:
                candidate.is_terminal = True
                self.result.append(candidate.cell)
                continue
            shift = self.MAX_CHILDREN_SHIFT
            # S2 maximizes -(((level<<2)+children<<2)+terminals); with a
            # min-heap that is the non-negated key: shallow cells with few
            # children pop first
            priority = (
                ((candidate.level << shift) + len(candidate.children)) << shift
            ) + num_terminals
            self._seq += 1
            heapq.heappush(self.pq, (priority, self._seq, candidate))

    def _initial_candidates(self):
        level = 0
        if self.max_cells >= 4:
            center, radius = self.region.cap_bound()
            level = min(min_width_level_for_value(2.0 * radius), MAX_LEVEL - 1)
        if level > 0:
            cells = list(dict.fromkeys(vertex_neighbors(self._leaf_from_xyz(center), level)))
        else:
            cells = [U64((f << 61) | (1 << 60)) for f in range(6)]
        cells = cm.Cells.of(np.array(cells, dtype=np.uint64))
        cands = _classified(self.region, cells, self.region.all_edges(len(cells)), level)
        self._add_candidates([c for c in cands if c is not None])

    @staticmethod
    def _leaf_from_xyz(p: np.ndarray) -> np.uint64:
        face, u, v = cm.xyz_to_face_uv(p[0:1], p[1:2], p[2:3])
        s, t = cm.uv_to_st(u), cm.uv_to_st(v)
        i = np.clip(np.floor(s * cm.MAX_SIZE), 0, cm.MAX_SIZE - 1).astype(np.uint64)
        j = np.clip(np.floor(t * cm.MAX_SIZE), 0, cm.MAX_SIZE - 1).astype(np.uint64)
        return U64(cm.from_face_ij(face.astype(np.uint64), i, j)[0])

    def covering(self) -> np.ndarray:
        self.result = []
        self.pq = []
        self._initial_candidates()
        while self.pq:
            _, _, candidate = heapq.heappop(self.pq)
            # expand when a single child makes it free, or when the
            # children still fit in the budget (s2region_coverer.cc
            # main-loop condition)
            if (
                len(candidate.children) == 1
                or len(self.result) + len(self.pq) + len(candidate.children) <= self.max_cells
            ):
                self._add_candidates(candidate.children)
            else:
                candidate.is_terminal = True
                self.result.append(candidate.cell)
        from .coverer import normalize_cell_union

        return normalize_cell_union(np.array(self.result, dtype=np.uint64))
