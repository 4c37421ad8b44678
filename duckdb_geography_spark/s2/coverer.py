"""Cell coverings of geographies (S2RegionCoverer-style).

Produces normalized S2 cell unions that are guaranteed supersets of a
geography's extent (no false negatives for may-intersect tests) with
at most ``max_cells`` cells — the same contract the reference gets
from S2RegionCoverer (reference: src/s2_bounds.cpp:19-144, default
max 8 cells).

Default (adaptive) coverings run through the faithful
S2RegionCoverer port in region_coverer.py and reproduce the
reference's golden cell lists exactly (Fiji,
test/sql/geography/bounds.test:8-16). Fixed-level coverings use a
batched BFS descent.

Both share one kernel, ``_GeogRegion._classify``: may-intersect and
contains for a whole batch of cells (a coverer generation, a BFS level)
in one pass. Children come from their parent's (i, j) square
(``cellmath.Cells``); region vertices are found by ``searchsorted``;
corner inside-ness is memoised per (face, i, j) within a covering; and
each cell tests only the edges that reach its bounding cap, from those
kept for its parent, with a slack far above the rounding. Every
remaining (cell edge, region edge) pair is decided by the elementwise
``segments_cross``, so no decision depends on the batch.
"""

from __future__ import annotations

import math
from functools import lru_cache
from typing import List, Optional

import numpy as np

from ..geo import geodesy as gd
from . import cellmath as cm

U64 = np.uint64
_FACE_CELLS = [U64((f << 61) | (1 << 60)) for f in range(6)]
_FACE_LSB = 1 << 60
#: slack (radians) of the edge-reaches-cell screen: far above the
#: rounding of the cap arithmetic and segments_cross's 1e-15 touch
#: tolerance, so no edge that could test as crossing is screened out
_REACH_SLACK = 1e-9
#: edges whose endpoints' sum is shorter than this are nearly
#: antipodal: their midpoint is ill-conditioned, so they reach every cell
_MID_MIN = 1e-3


def normalize_cell_union(cells) -> np.ndarray:
    """Sort (unsigned), drop invalid/contained cells, merge complete
    sibling groups — S2CellUnion::Normalize semantics
    (reference cast: src/s2_cell_ops.cpp:95-132)."""
    arr = np.asarray(cells, dtype=np.uint64)
    arr = arr[cm.is_valid(arr)]
    if arr.size == 0:
        return arr
    # valid ids as Python ints: a cell spans id -+ (lsb - 1), and its
    # parent's lsb is 4 times its own
    out: List[int] = []
    for c in np.unique(arr).tolist():  # unsigned sort + dedupe
        if out:
            lsb = out[-1] & -out[-1]
            if out[-1] - (lsb - 1) <= c <= out[-1] + (lsb - 1):
                continue  # contained in a predecessor
        out.append(c)
        # merge complete sibling groups bottom-up
        while len(out) >= 4:
            last4 = out[-4:]
            lsb = last4[0] & -last4[0]
            if lsb == _FACE_LSB or any(x & -x != lsb for x in last4):
                break
            up = lsb << 2
            parent = (last4[0] & ~(2 * up - 1)) | up
            if last4 != [parent - up + lsb * (2 * k + 1) for k in range(4)]:
                break  # not the parent's four children
            out[-4:] = [parent]
    return np.array(out, dtype=np.uint64)


class _GeogRegion:
    """May-intersect and contains oracle for (cell, geography), with no
    false negatives for may-intersect. Every test runs batched over
    arrays of cells through :meth:`_classify`."""

    def __init__(self, geog, buffer_radians: float = 0.0):
        self.buffer = buffer_radians
        self._geog = geog
        self._cap = None
        self._inside = {}  # corner key -> inside the region
        pts = geog.all_points()
        self.vertex_lonlat = [pts] if len(pts) else []
        edges_a, edges_b = [], []
        for line in geog.all_lines():
            self.vertex_lonlat.append(line)
            if len(line) >= 2:
                xyz = gd.lonlat_deg_to_xyz(line)
                edges_a.append(xyz[:-1])
                edges_b.append(xyz[1:])
        self.rings_xyz = []  # shell rings for containment tests
        self.ring_orients = []  # +-1 per shell (winding vs antipode)
        self.shell_holes = []  # per shell: [(hole_xyz, orient), ...]
        for rings in geog.all_polygons():
            # Track whether THIS polygon's shell was kept: if a degenerate
            # shell (<3 vertices) is skipped, its holes must be dropped too,
            # not attached to the previous polygon's shell.
            shell_kept = False
            for ri, r in enumerate(rings):
                if len(r) < 3:
                    continue
                self.vertex_lonlat.append(r)
                xyz = gd.lonlat_deg_to_xyz(r)
                edges_a.append(xyz)
                edges_b.append(np.roll(xyz, -1, axis=0))
                if ri == 0:
                    self.rings_xyz.append(xyz)
                    self.ring_orients.append(gd.ring_orientation(xyz))
                    self.shell_holes.append([])
                    shell_kept = True
                elif shell_kept:
                    self.shell_holes[-1].append((xyz, gd.ring_orientation(xyz)))
        # every shell and hole in one array; per shell ((start, end),
        # orientation, [((start, end), orientation) per hole]), and each
        # vertex's successor in its ring
        flat, nxt, self._ring_spans, at = [], [], [], 0
        for shell, orient, holes in zip(self.rings_xyz, self.ring_orients, self.shell_holes):
            spans = []
            for r, o in [(shell, orient)] + holes:
                flat.append(r)
                nxt.append(np.roll(np.arange(at, at + len(r)), -1))
                spans.append(((at, at + len(r)), o))
                at += len(r)
            self._ring_spans.append((*spans[0], spans[1:]))
        self._ring_all = np.concatenate(flat) if flat else np.empty((0, 3))
        self._ring_next = np.concatenate(nxt) if nxt else np.empty(0, dtype=np.int64)
        self.edge_a = np.concatenate(edges_a) if edges_a else np.empty((0, 3))
        self.edge_b = np.concatenate(edges_b) if edges_b else np.empty((0, 3))
        self.edge_n = gd.cross3(self.edge_a, self.edge_b)
        # each edge lies within half its length of its midpoint
        mid = self.edge_a + self.edge_b
        mid_n = np.sqrt(gd._dot(mid, mid))
        self.edge_mid = mid / np.where(mid_n > 0, mid_n, 1.0)[:, None]
        self.edge_half = np.where(
            mid_n >= _MID_MIN, 0.5 * gd.angle(self.edge_a, self.edge_b), np.pi
        )
        if self.vertex_lonlat:
            allv = np.concatenate(self.vertex_lonlat)
            self.vertex_cells = np.sort(cm.lonlat_to_cellid(allv[:, 0], allv[:, 1]))
            self.vertex_xyz = gd.lonlat_deg_to_xyz(allv)
        else:
            self.vertex_cells = np.empty(0, dtype=np.uint64)
            self.vertex_xyz = np.empty((0, 3))

    def _points_in_region(self, pts: np.ndarray) -> np.ndarray:
        """(p,) bool: point inside the polygon REGION (shell minus its
        holes) — the exact test definite-containment needs. One winding
        pass over every ring at once, in blocks of points; elementwise
        products only, so a point decides alike in any batch."""
        out = np.zeros(len(pts), dtype=bool)
        if not self.rings_xyz or not len(pts):
            return out
        ring, nxt = self._ring_all, self._ring_next
        rows = max(1, gd._PAIR_BLOCK // 4 // len(ring))
        for b in range(0, len(pts), rows):
            P = pts[b : b + rows, None, :]
            d = ring[None, :, :] - gd._dot(P, ring[None, :, :])[:, :, None] * P
            norms = np.linalg.norm(d, axis=2)
            deg = norms < 1e-14  # a vertex coincides with the point
            with np.errstate(invalid="ignore", divide="ignore"):
                d = d / np.where(norms > 0, norms, 1.0)[:, :, None]
            d_next = d[:, nxt]
            cosang = np.clip(gd._dot(d, d_next), -1.0, 1.0)
            ang = np.arctan2(gd._dot(gd.cross3(d, d_next), P), cosang)

            def inside(span, orient):
                # winding must match the ring's orientation: the antipodal
                # mirror region winds with the opposite sign and is outside
                s, e = span
                total = np.sum(ang[:, s:e], axis=1)
                return (total * orient > np.pi) | deg[:, s:e].any(axis=1)

            hit = out[b : b + rows]
            for shell, orient, holes in self._ring_spans:
                got = inside(shell, orient)
                for hole, ho in holes:
                    got &= ~inside(hole, ho)
                hit |= got
        return out

    def _corners_inside(self, keys: np.ndarray, corners: np.ndarray) -> np.ndarray:
        """(m,4) bool inside-ness of the corners, memoised by corner key:
        a corner's position depends on its key alone."""
        uk, first, inv = np.unique(keys.ravel(), return_index=True, return_inverse=True)
        ul = uk.tolist()
        memo = self._inside
        vals = np.array([memo.get(k, 2) for k in ul], dtype=np.int8)
        miss = np.flatnonzero(vals == 2)
        if len(miss):
            got = self._points_in_region(corners.reshape(-1, 3)[first[miss]])
            vals[miss] = got
            memo.update(zip(uk[miss].tolist(), got.tolist()))
        return vals[inv].reshape(keys.shape).astype(bool)

    def _vertex_in(self, ids: np.ndarray) -> np.ndarray:
        """(n,) bool: some region vertex lies in the cell."""
        vc = self.vertex_cells
        if not vc.size:
            return np.zeros(len(ids), dtype=bool)
        lo = np.searchsorted(vc, cm.range_min(ids), side="left")
        hi = np.searchsorted(vc, cm.range_max(ids), side="right")
        return hi > lo

    def all_edges(self, n: int):
        """(cell, edge) pairs naming every edge for each of n cells."""
        e = len(self.edge_a)
        return np.repeat(np.arange(n), e), np.tile(np.arange(e), n)

    def _classify(self, cells: cm.Cells, pair_cell, pair_edge, want_contains=True):
        """(may_intersect, contains, kept pairs) for a batch of cells.

        ``(pair_cell, pair_edge)`` name, for each cell, a superset of the
        region edges that reach it (its parent's kept edges, or all).
        The kept pairs are those whose edge reaches the cell's bounding
        cap: the superset to hand to the cell's children.
        ``contains`` is exact only where ``want_contains``."""
        n = len(cells)
        vin = self._vertex_in(cells.ids)
        corners = cells.corners()
        if len(pair_cell):
            center = corners.sum(axis=1)
            center /= np.linalg.norm(center, axis=1)[:, None]
            radius = np.max(gd.angle(center[:, None, :], corners), axis=1)
            keep = gd.angle(self.edge_mid[pair_edge], center[pair_cell]) <= (
                self.edge_half[pair_edge] + radius[pair_cell] + _REACH_SLACK
            )
            pair_cell, pair_edge = pair_cell[keep], pair_edge[keep]
        any_in = np.zeros(n, dtype=bool)
        all_in = np.zeros(n, dtype=bool)
        buffered = self.buffer > 0.0
        if self.rings_xyz and (want_contains or not buffered):
            rows = np.flatnonzero(~vin)
            if len(rows):
                inside = self._corners_inside(cells.take(rows).corner_keys(), corners[rows])
                any_in[rows] = inside.any(axis=1)
                all_in[rows] = inside.all(axis=1)
        # crossings decide may-intersect where no vertex or corner did,
        # and contains where every corner is inside
        need = np.zeros(n, dtype=bool) if buffered else ~any_in
        if want_contains:
            need |= all_in
        need &= ~vin
        cross = np.zeros(n, dtype=bool)
        if len(pair_cell) and np.any(need):
            sel = need[pair_cell]
            pc, pe = pair_cell[sel], pair_edge[sel]
            c1 = np.roll(corners, -1, axis=1)
            cn = gd.cross3(corners, c1)
            hit = gd.segments_cross_n(
                corners[pc], c1[pc], cn[pc],
                self.edge_a[pe][:, None, :], self.edge_b[pe][:, None, :],
                self.edge_n[pe][:, None, :],
            ).any(axis=1)
            cross[pc[hit]] = True
        contains = ~vin & all_in & ~cross
        if buffered:
            may = vin | self._within_buffer_batch(cells.ids, corners, ~vin)
        else:
            may = vin | any_in | cross
        return may, contains, (pair_cell, pair_edge)

    def _classify_ids(self, cells: np.ndarray):
        cells = np.asarray(cells, dtype=np.uint64)
        return self._classify(cm.Cells.of(cells), *self.all_edges(len(cells)))

    def may_intersect_batch(self, cells: np.ndarray) -> np.ndarray:
        return self._classify_ids(cells)[0]

    def contains_cell_batch(self, cells: np.ndarray) -> np.ndarray:
        """Cell fully inside the region (polygons only): all corners
        inside a shell, no region vertex inside the cell, no edge
        crossings."""
        return self._classify_ids(cells)[1]

    def _within_buffer_batch(self, cells, corners, todo) -> np.ndarray:
        """Buffered test: center inside a polygon OR center-to-boundary
        distance <= buffer + circumradius (conservative superset)."""
        n = len(cells)
        out = np.zeros(n, dtype=bool)
        if not self.vertex_xyz.size:
            return out
        cx, cy, cz = cm.cellid_to_center_xyz(cells)
        centers = np.stack([cx, cy, cz], axis=1)
        out |= self._points_in_region(centers) & todo
        rem = todo & ~out
        if np.any(rem):
            idx = np.flatnonzero(rem)
            C = centers[rem]
            circum = np.max(gd.angle(C[:, None, :], corners[rem]), axis=1)
            if len(self.edge_a):
                d = gd.point_segment_distance(
                    C[:, None, :], self.edge_a[None, :, :], self.edge_b[None, :, :]
                )
                dmin = np.min(d, axis=1)
            else:
                dmin = np.min(gd.angle(C[:, None, :], self.vertex_xyz[None, :, :]), axis=1)
            out[idx[dmin <= self.buffer + circum]] = True
        return out

    def cap_bound(self):
        """S2LatLngRect::GetCapBound port over the geography's bounds
        rect -> (center_xyz, radius_radians)."""
        from ..geo import ops as _ops

        if self._cap is None:
            rect = _ops.bounds_rect(self._geog)
            self._cap = _rect_cap_bound(rect)
        return self._cap


def covering_of_encoded(
    buf: bytes,
    max_cells: int = 8,
    fixed_level: Optional[int] = None,
    buffer_radians: float = 0.0,
) -> np.ndarray:
    """Memoized covering over the encoded bytes — repeated region rows
    (broadcast sides, re-evaluated plans) pay the coverer once per
    executor."""
    return _covering_cached(buf, max_cells, fixed_level, buffer_radians)


@lru_cache(maxsize=4096)
def _covering_cached(buf, max_cells, fixed_level, buffer_radians):
    from ..geo.geography import Geography

    return covering_of_geography(Geography.decode(buf), max_cells, fixed_level, buffer_radians)


def cap_coverings_fixed_level(
    vertex_lonlat: np.ndarray,
    level: int,
    buffer_radians: float,
    cap: int = 16384,
) -> list:
    """Buffered fixed-level coverings for n POINT caps, batched across
    rows — the right-side kernel of joins.distance_join when the
    geographies are points/cell centers (the common case).

    The generic per-row face-descent (_fixed_level_covering) spends
    ~6 ms/row in tiny-array numpy dispatch; this flood-fills all rows
    at once from each point's containing level-L cell through edge
    neighbors, testing the SAME acceptance predicate
    (_GeogRegion.may_intersect_batch for a buffered point: the point's
    leaf inside the cell, or center-to-point distance <= buffer +
    circumradius) over one big vectorized batch per ring.

    Completeness is GUARANTEED, not assumed (ADVICE r7 #4 — the
    acceptance set itself need not be edge-connected, because the
    per-cell circumradius varies between same-level cells): the fill
    TRAVERSES a slack-widened superset — cells whose center is within
    ``buffer + circum(cell) + kMaxDiag/2^level`` of the point — and
    EMITS only cells passing the exact predicate. Soundness of the
    slack: every accepted cell's center lies within
    ``buffer + max_circum(level)`` of the point (a metric disk), and
    any cell crossed by the geodesic from an accepted center to the
    point has its own center within one circumradius of that geodesic,
    hence within ``buffer + max_circum + circum(cell)`` of the point.
    ``max_circum(level) <= kMaxDiag/2^level`` (a cell's circumradius
    is strictly less than its full diagonal; kMaxDiag = 1.21932... is
    the published S2 quadratic-projection max-diagonal derivative), so
    the widened traversal set contains an edge-connected path from the
    seed to every accepted cell. Set-equality with the per-row descent
    is additionally asserted over a randomized battery in
    tests/test_r7_regressions.py.

    Returns a list of n uint64 arrays (sorted per row)."""
    n = len(vertex_lonlat)
    if n == 0:
        return []
    vcell = cm.lonlat_to_cellid(vertex_lonlat[:, 0], vertex_lonlat[:, 1])
    vxyz = gd.lonlat_deg_to_xyz(vertex_lonlat)
    # S2 kMaxDiag (quadratic projection): max cell diagonal at level L
    # is 1.2193272972170503 / 2^L radians — a strict upper bound on any
    # same-level circumradius, used as the traversal slack
    slack = 1.2193272972170503 / (1 << max(level, 0))

    def _accept_both(cand_cells: np.ndarray, cand_rows: np.ndarray):
        # the exact may_intersect_batch arithmetic for a buffered point:
        # the point's leaf inside the cell, or center-to-point distance
        # <= buffer + circumradius. Returns (exact, traverse) masks in
        # one corner pass — traverse adds the kMaxDiag slack.
        lo = cm.range_min(cand_cells)
        hi = cm.range_max(cand_cells)
        vc = vcell[cand_rows]
        acc = (lo <= vc) & (vc <= hi)
        trav = acc.copy()
        rest = np.flatnonzero(~acc)
        if len(rest):
            cells_r = cand_cells[rest]
            cx, cy, cz = cm.cellid_to_center_xyz(cells_r)
            centers = np.stack([cx, cy, cz], axis=1)
            circum = np.max(
                gd.angle(centers[:, None, :], cm.Cells.of(cells_r).corners()), axis=1
            )
            dmin = gd.angle(centers, vxyz[cand_rows[rest]])
            acc[rest[dmin <= buffer_radians + circum]] = True
            trav[rest[dmin <= buffer_radians + circum + slack]] = True
        return acc, trav

    seed = cm.parent(vcell, np.full(n, level, dtype=np.int64))
    accepted: list = [[int(seed[i])] for i in range(n)]  # seed contains the point
    seen = {(i, int(seed[i])) for i in range(n)}
    frontier_rows = np.arange(n, dtype=np.int64)
    frontier_cells = seed.copy()
    while len(frontier_rows):
        nb = cm.edge_neighbors(frontier_cells)  # (4, f)
        cand_cells = nb.ravel()
        cand_rows = np.tile(frontier_rows, 4)
        fresh = np.fromiter(
            ((int(r), int(c)) not in seen for r, c in zip(cand_rows, cand_cells)),
            dtype=bool,
            count=len(cand_rows),
        )
        if not np.any(fresh):
            break
        cand_rows = cand_rows[fresh]
        cand_cells = cand_cells[fresh]
        seen.update(zip(cand_rows.tolist(), cand_cells.tolist()))
        # traverse the slack-widened superset; emit only exact accepts
        acc, trav = _accept_both(cand_cells, cand_rows)
        frontier_rows = cand_rows[trav]
        frontier_cells = cand_cells[trav]
        emit_rows = cand_rows[acc]
        emit_cells = cand_cells[acc]
        for r, c in zip(emit_rows.tolist(), emit_cells.tolist()):
            accepted[r].append(c)
            if len(accepted[r]) > cap:
                suggested = max(
                    0, level - int(math.ceil(math.log(len(accepted[r]) / cap, 4)))
                )
                raise CoveringOverflowError(level, suggested, cap)

    # the generic descent also prunes cells whose ANCESTOR fails the
    # (conservative) predicate at a coarser level — replay that chain
    # so the batched output is cell-for-cell identical to
    # _fixed_level_covering, not just a safe superset
    all_rows = np.concatenate(
        [np.full(len(a), i, dtype=np.int64) for i, a in enumerate(accepted)]
    )
    all_cells = np.concatenate([np.array(a, dtype=np.uint64) for a in accepted])
    keep = np.ones(len(all_cells), dtype=bool)
    for lev in range(0, level):
        idx = np.flatnonzero(keep)
        if not len(idx):
            break
        anc = cm.parent(all_cells[idx], np.full(len(idx), lev, dtype=np.int64))
        keep[idx[~_accept_both(anc, all_rows[idx])[0]]] = False
    out: list = [[] for _ in range(n)]
    for r, c in zip(all_rows[keep].tolist(), all_cells[keep].tolist()):
        out[r].append(c)
    return [np.sort(np.array(a, dtype=np.uint64)) for a in out]


def covering_of_geography(
    geog,
    max_cells: int = 8,
    fixed_level: Optional[int] = None,
    buffer_radians: float = 0.0,
) -> np.ndarray:
    """Cell covering of a geography (uint64 array, normalized unless
    ``fixed_level``). Cell-center fast path returns the id itself /
    its ancestor, matching the reference (src/s2_bounds.cpp:121-129,
    bounds.test:19-27)."""
    from ..geo.geography import KIND_CELL_CENTER

    default_args = max_cells == 8 and fixed_level is None and buffer_radians == 0.0
    if default_args and getattr(geog, "_cov", None) is not None:
        return geog._cov
    if geog.is_empty():
        return np.empty(0, dtype=np.uint64)
    if geog.kind == KIND_CELL_CENTER and buffer_radians == 0.0:
        cid = np.array([geog.cell_id], dtype=np.uint64)
        if fixed_level is not None:
            return cm.parent(cid, np.array([fixed_level]))
        return cid
    pts = geog.all_points()
    only_points = (
        not geog.all_lines() and not geog.all_polygons() and len(pts) > 0 and buffer_radians == 0.0
    )
    if only_points:
        leaves = cm.lonlat_to_cellid(pts[:, 0], pts[:, 1])
        if fixed_level is not None:
            return np.unique(cm.parent(leaves, np.full(len(leaves), fixed_level)))
        cells = normalize_cell_union(leaves)
        lev = 30
        while len(cells) > max_cells and lev > 0:
            lev -= 1
            # clamp the parent target per cell: normalize may already have
            # merged sibling groups 2+ levels up, and parent() returns the
            # sentinel for target > current level, which would silently
            # drop those cells from the covering (false negatives in every
            # covering-based predicate/join)
            target = np.minimum(np.int64(lev), cm.level(cells))
            cells = normalize_cell_union(cm.parent(cells, target))
        return cells

    region = _GeogRegion(geog, buffer_radians)
    if fixed_level is not None:
        return _fixed_level_covering(region, fixed_level)
    from .region_coverer import RegionCoverer

    out = RegionCoverer(region, max_cells).covering()
    if default_args:
        geog._cov = out
    return out


class CoveringOverflowError(ValueError):
    """A fixed-level covering exceeded the cell cap.

    Raised instead of silently keeping coarser-than-requested cells:
    the covering equi-joins in joins.py key on cell-id *equality* at
    the requested level, so a coarse guard cell would never match a
    level-L key on the other side and candidate pairs would be lost
    without any signal. ``suggested_level`` is the coarsest level at
    which this region's covering fits under the cap.
    """

    def __init__(self, level: int, suggested_level: int, cap: int):
        self.level = level
        self.suggested_level = suggested_level
        self.cap = cap
        super().__init__(
            f"fixed-level covering at level {level} exceeds {cap} cells; "
            f"re-run with level<={suggested_level}, or use "
            f"joins.covering_range_join (mixed-level adaptive covering + "
            f"range refine) for planet-scale regions"
        )


def _keep(cells: cm.Cells, mask, pairs):
    """The cells under ``mask`` and their (cell, edge) pairs, renumbered."""
    pair_cell, pair_edge = pairs
    sel = mask[pair_cell]
    return cells.take(mask), ((np.cumsum(mask) - 1)[pair_cell[sel]], pair_edge[sel])


def _child_pairs(pairs):
    """Each (cell, edge) pair handed to the cell's 4 children."""
    pair_cell, pair_edge = pairs
    return (4 * pair_cell[:, None] + np.arange(4)).ravel(), np.repeat(pair_edge, 4)


def _fixed_level_covering(region: _GeogRegion, level: int, cap: int = 16384) -> np.ndarray:
    """Batched BFS descent keeping only intersecting cells, one
    ``_classify`` call per level. All cells in the result are exactly at
    ``level`` (the equi-join key contract). Raises CoveringOverflowError
    if the covering cannot fit in ``cap`` cells at that level."""
    cells = cm.Cells.of(np.array(_FACE_CELLS, dtype=np.uint64))
    may, _, pairs = region._classify(cells, *region.all_edges(len(cells)), want_contains=False)
    cells, pairs = _keep(cells, may, pairs)
    suggested = 0
    for _lev in range(0, level):
        if not len(cells):
            break
        kids = cells.children()
        may, _, pairs = region._classify(kids, *_child_pairs(pairs), want_contains=False)
        if np.count_nonzero(may) > cap:
            raise CoveringOverflowError(level, suggested, cap)
        suggested = _lev + 1
        cells, pairs = _keep(kids, may, pairs)
    return np.unique(cells.ids)


def _rect_cap_bound(rect):
    """(xmin, ymin, xmax, ymax) degrees -> (center_xyz, radius_rad),
    following S2LatLngRect::GetCapBound."""
    xmin, ymin, xmax, ymax = rect
    if ymin > ymax:  # empty
        return np.array([1.0, 0.0, 0.0]), 0.0
    if ymin + ymax < 0:
        pole = np.array([0.0, 0.0, -1.0])
        pole_angle = math.pi / 2 + math.radians(ymax)
    else:
        pole = np.array([0.0, 0.0, 1.0])
        pole_angle = math.pi / 2 - math.radians(ymin)
    lng_span = (xmax - xmin) if xmin <= xmax else (xmax - xmin + 360.0)
    if 0.0 <= lng_span < 360.0:
        mid_lng = xmin + lng_span / 2.0
        if mid_lng > 180.0:
            mid_lng -= 360.0
        mid_lat = (ymin + ymax) / 2.0
        center = gd.lonlat_deg_to_xyz(np.array([[mid_lng, mid_lat]]))[0]
        corners = gd.lonlat_deg_to_xyz(
            np.array(
                [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax]], dtype=float
            )
        )
        radius = float(np.max(gd.angle(np.broadcast_to(center, corners.shape), corners)))
        if 1 - math.cos(radius) < 1 - math.cos(pole_angle):
            return center, radius
    return pole, pole_angle
