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


def normalize_cell_union(cells) -> np.ndarray:
    """Sort (unsigned), drop invalid/contained cells, merge complete
    sibling groups — S2CellUnion::Normalize semantics
    (reference cast: src/s2_cell_ops.cpp:95-132)."""
    arr = np.asarray(cells, dtype=np.uint64)
    arr = arr[cm.is_valid(arr)]
    if arr.size == 0:
        return arr
    arr = np.unique(arr)  # unsigned sort + dedupe
    # drop cells contained in a predecessor
    out: List[np.uint64] = []
    for c in arr.tolist():
        c = U64(c)
        if out and cm.contains(np.array([out[-1]]), np.array([c]))[0]:
            continue
        out.append(c)
        # merge complete sibling groups bottom-up
        while len(out) >= 4:
            last4 = np.array(out[-4:], dtype=np.uint64)
            lev = cm.level(last4)
            if lev[0] <= 0 or not (lev == lev[0]).all():
                break
            parents = cm.parent(last4, np.full(4, lev[0] - 1))
            if not (parents == parents[0]).all():
                break
            # all four children present?
            kids = {int(cm.child(np.array([parents[0]]), np.array([k]))[0]) for k in range(4)}
            if {int(v) for v in last4} != kids:
                break
            out = out[:-4] + [parents[0]]
    return np.array(out, dtype=np.uint64)


def cells_corners(cells: np.ndarray) -> np.ndarray:
    """(n,4,3) unit-vector corners for n cells, one batched pass."""
    n = len(cells)
    face, i_lo, j_lo, size = cm.cell_ij_bounds(cells)
    u_lo = cm.st_to_uv(cm.ij_to_st_min(i_lo))
    u_hi = cm.st_to_uv(cm.ij_to_st_min(i_lo + size))
    v_lo = cm.st_to_uv(cm.ij_to_st_min(j_lo))
    v_hi = cm.st_to_uv(cm.ij_to_st_min(j_lo + size))
    us = np.stack([u_lo, u_hi, u_hi, u_lo], axis=1)  # CCW
    vs = np.stack([v_lo, v_lo, v_hi, v_hi], axis=1)
    f4 = np.repeat(face.astype(np.int64), 4)
    x, y, z = cm.face_uv_to_xyz(f4, us.ravel(), vs.ravel())
    xyz = np.stack([x, y, z], axis=1)
    xyz /= np.linalg.norm(xyz, axis=1)[:, None]
    return xyz.reshape(n, 4, 3)


class _GeogRegion:
    """May-intersect oracle for (cell, geography) with no false
    negatives. All tests run **batched over arrays of cells** — the
    coverer probes whole frontiers in a handful of numpy calls (the
    per-cell form was the encode-time hotspot at sf0.1)."""

    def __init__(self, geog, buffer_radians: float = 0.0):
        self.buffer = buffer_radians
        self._geog = geog
        self._cap = None
        pts = geog.all_points()
        self.vertex_lonlat = [pts] if len(pts) else []
        edges_a, edges_b = [], []
        self.rings_xyz = []  # shell rings for containment tests
        self.ring_orients = []  # +-1 per shell (winding vs antipode)
        for line in geog.all_lines():
            self.vertex_lonlat.append(line)
            if len(line) >= 2:
                xyz = gd.lonlat_deg_to_xyz(line)
                edges_a.append(xyz[:-1])
                edges_b.append(xyz[1:])
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
        self.edge_a = np.concatenate(edges_a) if edges_a else np.empty((0, 3))
        self.edge_b = np.concatenate(edges_b) if edges_b else np.empty((0, 3))
        if self.vertex_lonlat:
            allv = np.concatenate(self.vertex_lonlat)
            self.vertex_cells = cm.lonlat_to_cellid(allv[:, 0], allv[:, 1])
            self.vertex_xyz = gd.lonlat_deg_to_xyz(allv)
        else:
            self.vertex_cells = np.empty(0, dtype=np.uint64)
            self.vertex_xyz = np.empty((0, 3))

    def _cells_corners(self, cells: np.ndarray) -> np.ndarray:
        """(n,4,3) unit-vector corners for n cells, one batched pass."""
        return cells_corners(cells)

    @staticmethod
    def _points_in_ring(P: np.ndarray, ring: np.ndarray, orient) -> np.ndarray:
        """(p,) bool: batched winding test of points against one ring
        (vertex coincidence counts as inside)."""
        proj = P @ ring.T  # (p,r)
        d = ring[None, :, :] - proj[:, :, None] * P[:, None, :]
        norms = np.linalg.norm(d, axis=2)
        deg = norms < 1e-14  # a vertex coincides with the point
        with np.errstate(invalid="ignore", divide="ignore"):
            d = d / np.where(norms > 0, norms, 1.0)[:, :, None]
        d_next = np.roll(d, -1, axis=1)
        cosang = np.clip(np.einsum("pri,pri->pr", d, d_next), -1.0, 1.0)
        sinang = np.einsum("pri,pi->pr", np.cross(d, d_next), P)
        total = np.sum(np.arctan2(sinang, cosang), axis=1)
        # winding must match the ring's orientation: the antipodal
        # mirror region winds with the opposite sign and is outside
        return (total * orient > np.pi) | deg.any(axis=1)

    def _points_in_region(self, pts: np.ndarray) -> np.ndarray:
        """(p,) bool: point inside the polygon REGION (shell minus its
        holes) — the exact test definite-containment needs."""
        if not self.rings_xyz or not len(pts):
            return np.zeros(len(pts), dtype=bool)
        out = np.zeros(len(pts), dtype=bool)
        for ring, orient, holes in zip(
            self.rings_xyz, self.ring_orients, self.shell_holes
        ):
            todo = ~out
            if not np.any(todo):
                break
            P = pts[todo]
            inside = self._points_in_ring(P, ring, orient)
            for hole, ho in holes:
                if not np.any(inside):
                    break
                inside &= ~self._points_in_ring(P, hole, ho)
            out[np.flatnonzero(todo)[inside]] = True
        return out

    def may_intersect_batch(self, cells: np.ndarray) -> np.ndarray:
        cells = np.asarray(cells, dtype=np.uint64)
        n = len(cells)
        hit = np.zeros(n, dtype=bool)
        if self.vertex_cells.size:
            lo = cm.range_min(cells)[:, None]
            hi = cm.range_max(cells)[:, None]
            vc = self.vertex_cells[None, :]
            hit |= np.any((lo <= vc) & (vc <= hi), axis=1)
        if np.all(hit):
            return hit
        corners = self._cells_corners(cells)  # (n,4,3)
        if self.buffer > 0.0:
            return hit | self._within_buffer_batch(cells, corners, ~hit)
        todo = ~hit
        if self.rings_xyz and np.any(todo):
            flat = corners[todo].reshape(-1, 3)
            # region (shell minus holes): a cell whose corners are all
            # inside a hole does NOT intersect — shell-only testing
            # would cover hole interiors (S2Polygon.MayIntersect parity;
            # cells straddling a hole boundary are caught by the edge-
            # crossing and vertex tests)
            inside = self._points_in_region(flat).reshape(-1, 4).any(axis=1)
            hit[np.flatnonzero(todo)[inside]] = True
        todo = ~hit
        if len(self.edge_a) and np.any(todo):
            idx = np.flatnonzero(todo)
            c0 = corners[todo]  # (t,4,3)
            c1 = np.roll(c0, -1, axis=1)
            crosses = gd.segments_cross(
                c0[:, :, None, :],
                c1[:, :, None, :],
                self.edge_a[None, None, :, :],
                self.edge_b[None, None, :, :],
            )
            hit[idx[crosses.any(axis=(1, 2))]] = True
        return hit

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

    def contains_cell_batch(self, cells: np.ndarray) -> np.ndarray:
        """Cell fully inside the region (polygons only): all corners
        inside a shell, no region vertex inside the cell, no edge
        crossings."""
        cells = np.asarray(cells, dtype=np.uint64)
        n = len(cells)
        if not self.rings_xyz:
            return np.zeros(n, dtype=bool)
        ok = np.ones(n, dtype=bool)
        if self.vertex_cells.size:
            lo = cm.range_min(cells)[:, None]
            hi = cm.range_max(cells)[:, None]
            vc = self.vertex_cells[None, :]
            ok &= ~np.any((lo <= vc) & (vc <= hi), axis=1)
        if not np.any(ok):
            return ok
        corners = self._cells_corners(cells)
        idx = np.flatnonzero(ok)
        flat = corners[ok].reshape(-1, 3)
        # definite containment must respect holes: a cell whose corners
        # sit inside a shell may still be entirely inside a hole
        inside = self._points_in_region(flat).reshape(-1, 4).all(axis=1)
        ok[idx[~inside]] = False
        todo = ok
        if len(self.edge_a) and np.any(todo):
            idx = np.flatnonzero(todo)
            c0 = corners[todo]
            c1 = np.roll(c0, -1, axis=1)
            crosses = gd.segments_cross(
                c0[:, :, None, :],
                c1[:, :, None, :],
                self.edge_a[None, None, :, :],
                self.edge_b[None, None, :, :],
            )
            ok[idx[crosses.any(axis=(1, 2))]] = False
        return ok

    def cap_bound(self):
        """S2LatLngRect::GetCapBound port over the geography's bounds
        rect -> (center_xyz, radius_radians)."""
        from ..geo import ops as _ops

        if self._cap is None:
            rect = _ops.bounds_rect(self._geog)
            self._cap = _rect_cap_bound(rect)
        return self._cap

    def may_intersect(self, cell) -> bool:
        return bool(self.may_intersect_batch(np.array([cell], dtype=np.uint64))[0])


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
                gd.angle(centers[:, None, :], cells_corners(cells_r)), axis=1
            )
            dmin = gd.angle(centers, vxyz[cand_rows[rest]])
            acc[rest[dmin <= buffer_radians + circum]] = True
            trav[rest[dmin <= buffer_radians + circum + slack]] = True
        return acc, trav

    def _accept(cand_cells: np.ndarray, cand_rows: np.ndarray) -> np.ndarray:
        return _accept_both(cand_cells, cand_rows)[0]

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
        keep[idx[~_accept(anc, all_rows[idx])]] = False
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


def _children_batch(cells: np.ndarray) -> np.ndarray:
    """All 4 children of each cell, flattened (4n,)."""
    cells = np.repeat(np.asarray(cells, dtype=np.uint64), 4)
    ks = np.tile(np.arange(4), len(cells) // 4)
    return cm.child(cells, ks)


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


def _fixed_level_covering(region: _GeogRegion, level: int, cap: int = 16384) -> np.ndarray:
    """Batched BFS descent keeping only intersecting cells. All cells in
    the result are exactly at ``level`` (the equi-join key contract).
    Raises CoveringOverflowError if the covering cannot fit in ``cap``
    cells at that level."""
    faces = np.array(_FACE_CELLS, dtype=np.uint64)
    frontier = faces[region.may_intersect_batch(faces)]
    suggested = 0
    for _lev in range(0, level):
        if not len(frontier):
            break
        kids = _children_batch(frontier)
        kids = kids[region.may_intersect_batch(kids)]
        if len(kids) > cap:
            raise CoveringOverflowError(level, suggested, cap)
        suggested = _lev + 1
        frontier = kids
    return np.unique(frontier)


def _rect_cap_bound(rect):
    """(xmin, ymin, xmax, ymax) degrees -> (center_xyz, radius_rad),
    following S2LatLngRect::GetCapBound."""
    import math

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
