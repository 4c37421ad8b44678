"""Geometry operations over decoded :class:`Geography` values.

Semantics follow the reference's contracts (CLOSED polygon/polyline
models, src/include/global_options.hpp:11-14; empty-input behaviors
from src/s2_binary_index_ops.cpp and src/s2_accessors.cpp — see each
function).

Overlay status: complete. Empty/disjoint/containment cases implement
the reference's documented quirks exactly, and the general
partial-overlap clip routes through the edge-classification overlay
engine (``_general_overlay`` -> geo/overlay.py — our clean-room
equivalent of the reference's S2BooleanOperation), oracle-verified by
the overlay_intersection / overlay_suite driver gates.
"""

from __future__ import annotations

import math
from typing import List, Optional, Tuple

import numpy as np

from ..s2 import cellmath as cm
from . import geodesy as gd
from .geography import (
    KIND_CELL_CENTER,
    KIND_COLLECTION,
    KIND_LINESTRING,
    KIND_MULTILINESTRING,
    KIND_MULTIPOINT,
    KIND_MULTIPOLYGON,
    KIND_POINT,
    KIND_POLYGON,
    KIND_PREPARED,
    Geography,
)

R = gd.EARTH_RADIUS_METERS
INF = float("inf")

# ---------------------------------------------------------------------------
# accessors
# ---------------------------------------------------------------------------


def area(g: Geography) -> float:
    """Spherical area in m^2; 0 for dim < 2 (src/s2_accessors.cpp:152-208)."""
    total = 0.0
    for rings in g.all_polygons():
        for i, r in enumerate(rings):
            if len(r) < 3:
                continue
            a = gd.ring_area(gd.lonlat_deg_to_xyz(r))
            total += a if i == 0 else -a
    return total * R * R


def perimeter(g: Geography) -> float:
    """Sum of polygon ring lengths in m; 0 for non-polygons
    (src/s2_accessors.cpp:210-267)."""
    total = 0.0
    for rings in g.all_polygons():
        for r in rings:
            if len(r) >= 2:
                total += gd.ring_perimeter(gd.lonlat_deg_to_xyz(r))
    return total * R


def length(g: Geography) -> float:
    """Sum of polyline lengths in m; 0 otherwise
    (src/s2_accessors.cpp:269-323)."""
    total = 0.0
    for l in g.all_lines():
        total += gd.polyline_length(gd.lonlat_deg_to_xyz(l))
    return total * R


def x_coord(g: Geography) -> float:
    """Longitude of a single point; NaN otherwise
    (src/s2_accessors.cpp:325-409)."""
    p = _lonlat_of_single_point(g)
    return p[0] if p is not None else math.nan


def y_coord(g: Geography) -> float:
    p = _lonlat_of_single_point(g)
    return p[1] if p is not None else math.nan


def _lonlat_of_single_point(g: Geography):
    if g.dimension() != 0 and g.kind not in (KIND_COLLECTION, KIND_PREPARED):
        return None
    if g.all_lines() or g.all_polygons():
        return None
    pts = g.all_points()
    if len(pts) != 1:
        return None
    return pts[0]


# ---------------------------------------------------------------------------
# component extraction shared by predicates/distances
# ---------------------------------------------------------------------------


class _Parts:
    """Unit-vector components of a geography — the engine's prepared
    index (the role S2ShapeIndexGeography plays in the reference,
    src/s2_functions_io.cpp:365-385). Computed once per Geography
    instance (see :func:`parts_of`), restored directly from the
    serialized payload for PREPARED values, and carrying per-shell
    bounding caps for cheap point-probe rejection."""

    __slots__ = ("g", "points", "lines", "polygons", "_orients", "_caps", "_edge_arrs")

    def __init__(self, g: Geography):
        self.g = g
        self.points = g.points_xyz()
        self.lines = [gd.lonlat_deg_to_xyz(l) for l in g.all_lines() if len(l)]
        self.polygons = [
            [gd.lonlat_deg_to_xyz(r) for r in rings if len(r) >= 3]
            for rings in g.all_polygons()
        ]
        self.polygons = [p for p in self.polygons if p]
        # per-ring orientation, computed once: winding at the antipode of
        # an enclosed point is the opposite sign, so containment compares
        # winding against the ring's own orientation (never just != 0)
        self._orients = [
            [gd.ring_orientation(r) for r in rings] for rings in self.polygons
        ]
        self._caps = [_shell_cap(rings[0]) for rings in self.polygons]
        self._edge_arrs = False  # lazily built by edge_arrays()

    @classmethod
    def from_components(cls, points, lines, polygons) -> "_Parts":
        """Build a parts set directly from xyz components (e.g. the
        antipodal reflection in max_distance) — orientations and caps
        are recomputed from the rings, so every method is usable."""
        out = cls.__new__(cls)
        out.g = None
        out.points = points
        out.lines = lines
        out.polygons = polygons
        out._orients = [
            [gd.ring_orientation(r) for r in rings] for rings in polygons
        ]
        out._caps = [_shell_cap(rings[0]) for rings in polygons]
        out._edge_arrs = False
        return out

    def poly_contains(self, x: np.ndarray) -> bool:
        """CLOSED-model containment in any polygon (shell minus holes)."""
        for rings, orients, cap in zip(self.polygons, self._orients, self._caps):
            # bounding-cap reject: x provably outside this shell's cap
            # can't be inside or on its boundary
            if cap is not None:
                cx, cr = cap
                if float(x @ cx) < cr:
                    continue
            shell = rings[0]
            on_boundary = any(
                _point_on_ring_boundary(x, r) for r in rings
            )
            if on_boundary:
                return True
            if gd.winding_number(x, shell) == orients[0]:
                holes = rings[1:]
                if all(
                    gd.winding_number(x, h) != o
                    for h, o in zip(holes, orients[1:])
                ):
                    return True
        return False

    def chains(self) -> List[np.ndarray]:
        """The vertices of each line (2+ vertices) and of each ring closed
        by its first vertex: edge k of a chain runs from vertex k to k+1."""
        out = [l for l in self.lines if len(l) >= 2]
        for rings in self.polygons:
            out += [np.concatenate([r, r[:1]]) for r in rings]
        return out

    def edges(self) -> List[Tuple[np.ndarray, np.ndarray]]:
        return [(c[:-1], c[1:]) for c in self.chains()]

    def edge_arrays(self) -> Optional[Tuple[np.ndarray, np.ndarray]]:
        """All line/ring edges as one (e0, e1) pair of (n,3) arrays —
        the flat form the blocked broadcast kernels consume. Cached;
        None when the parts set has no edges."""
        # getattr: _Parts is also restored slot-by-slot from the
        # serialized prepared payload (geography.py) — be robust to a
        # construction path that predates this cache slot
        if getattr(self, "_edge_arrs", False) is False:
            es = self.edges()
            self._edge_arrs = (
                None
                if not es
                else (
                    np.concatenate([e[0] for e in es]),
                    np.concatenate([e[1] for e in es]),
                )
            )
        return self._edge_arrs

    def degenerate_line_vertices(self) -> np.ndarray:
        """Vertices of single-point linestrings (no edges to probe;
        they behave as points for distance purposes)."""
        singles = [l for l in self.lines if len(l) == 1]
        return np.concatenate(singles) if singles else np.empty((0, 3))


def _shell_cap(ring: np.ndarray):
    """(center, min-dot) bounding cap of a shell, or None.

    Valid containment prefilter for rings whose max vertex angle from
    the centroid direction is < pi/2: the cap is geodesically convex,
    so edges stay inside, and the enclosed (smaller) side cannot reach
    the antipodal anti-cap without exceeding a hemisphere of area —
    hence region ⊆ cap and a point outside the cap is definitely
    outside the polygon."""
    if len(ring) < 3:
        return None
    c = ring.sum(axis=0)
    n = float(np.linalg.norm(c))
    if n < 1e-9:
        return None
    c = c / n
    cr = float(np.min(ring @ c))
    if cr < 0.01:  # cap within ~89.4 deg of hemisphere: disable
        return None
    return c, cr - 1e-12


def parts_of(g: Geography) -> "_Parts":
    """Memoized :class:`_Parts` of a geography — predicates against
    the same decoded instance (broadcast sides probed once per fact
    row) pay the xyz conversion and ring analysis once. PREPARED
    values resolve to their inner geography, whose index was restored
    straight from the serialized payload."""
    if g.kind == KIND_PREPARED and g.geoms:
        return parts_of(g.geoms[0])
    p = g._parts
    if p is None:
        p = _Parts(g)
        g._parts = p
    return p


def _point_on_ring_boundary(x, ring) -> bool:
    nxt = np.roll(ring, -1, axis=0)
    return bool(
        np.any(gd.point_segment_distance(x[None, :], ring, nxt) <= 1e-15)
    )


# ---------------------------------------------------------------------------
# predicates
# ---------------------------------------------------------------------------


def intersects(g1: Geography, g2: Geography) -> bool:
    """Exact intersection test; empties -> false
    (src/s2_binary_index_ops.cpp:85-106, :287-312)."""
    if g1.is_empty() or g2.is_empty():
        return False
    a, b = parts_of(g1), parts_of(g2)
    return _parts_intersect(a, b)


#: Point-vs-point equality tolerance. Single POINTs are leaf-cell-snapped
#: at encode (geography.py encode: compact cell-center form) while
#: MULTIPOINT vertices are stored raw; the snap moves a point by at most
#: ~half a level-30 cell diagonal (~6.6e-10 rad). Without this slack,
#: s2_equals / s2_intersects on the *same* input coordinate would return
#: false depending on which container it arrived in.
PT_TOL = 2e-9


def _parts_intersect(a: "_Parts", b: "_Parts") -> bool:
    # point vs point: shared location up to the leaf-snap displacement
    if len(a.points) and len(b.points):
        d = gd.angle(a.points[:, None, :], b.points[None, :, :])
        if np.any(d <= PT_TOL):
            return True
    # point vs line/polygon
    for pts, other in ((a.points, b), (b.points, a)):
        for i in range(len(pts)):
            x = pts[i]
            if other.poly_contains(x):
                return True
            for l in other.lines:
                if gd.min_distance_point_to_polyline(x, l) <= 1e-15:
                    return True
    # line/ring edge crossings — one blocked all-pairs broadcast over
    # the flattened edge sets instead of a ring-pair Python loop
    ea, eb = a.edge_arrays(), b.edge_arrays()
    if (
        ea is not None
        and eb is not None
        and gd.segments_cross_any(ea[0], ea[1], eb[0], eb[1])
    ):
        return True
    # containment without boundary touch (one inside the other)
    for src, dst in ((a, b), (b, a)):
        probe = None
        if len(src.points):
            probe = src.points[0]
        elif src.lines:
            probe = src.lines[0][0]
        elif src.polygons:
            probe = src.polygons[0][0][0]
        if probe is not None and dst.poly_contains(probe):
            return True
    return False


def contains(g1: Geography, g2: Geography) -> bool:
    """g1 fully contains g2 (CLOSED model); empties -> false
    (src/s2_binary_index_ops.cpp:108-131)."""
    if g1.is_empty() or g2.is_empty():
        return False
    a, b = parts_of(g1), parts_of(g2)
    if b.polygons and not a.polygons:
        return False
    if b.lines and not (a.polygons or a.lines):
        return False
    # every point of g2 must be covered
    for i in range(len(b.points)):
        if not _covers_point(a, b.points[i]):
            return False
    for l in b.lines:
        for i in range(len(l)):
            if not _covers_point(a, l[i]):
                return False
        if a.polygons and _crosses_boundary_transversally(a, l):
            return False
    for rings in b.polygons:
        for r in rings:
            for i in range(len(r)):
                if not _covers_point(a, r[i]):
                    return False
            if a.polygons and _crosses_boundary_transversally(a, r, ring=True):
                return False
    # holes of g1 vs g2's interior: all of g2's boundary being covered
    # does not prevent g2 from spanning ACROSS a hole of g1 (the hole
    # ring then lies strictly inside g2, crossing nothing). Any hole
    # vertex strictly inside g2 means g2 contains area excluded from
    # g1 (matches S2BooleanOperation; geodesic rings, no transversal
    # crossings survive to this point, so a vertex test suffices).
    if b.polygons:
        for rings in a.polygons:
            for hole in rings[1:]:
                for i in range(len(hole)):
                    x = hole[i]
                    if b.poly_contains(x) and not any(
                        _point_on_ring_boundary(x, r2)
                        for rings2 in b.polygons
                        for r2 in rings2
                    ):
                        return False
    return True


def _covers_point(parts: "_Parts", x: np.ndarray) -> bool:
    if parts.poly_contains(x):
        return True
    for l in parts.lines:
        if gd.min_distance_point_to_polyline(x, l) <= 1e-15:
            return True
    if len(parts.points):
        if np.any(gd.angle(parts.points, np.broadcast_to(x, parts.points.shape)) <= PT_TOL):
            return True
    return False


def _covers_points(parts: "_Parts", xs: np.ndarray) -> np.ndarray:
    """:func:`_covers_point` of every point of ``xs`` (n,3) against one
    parts set, as a bool array — the refine of a point-in-polygon join,
    where one right geography meets many candidate points. Each polygon
    takes its cap reject, then one blocked (points, edges) boundary
    distance test over all its rings and one elementwise winding test a
    ring; lines and points take their tolerances the same way."""
    hit = np.zeros(len(xs), dtype=bool)
    for rings, orients, cap in zip(parts.polygons, parts._orients, parts._caps):
        todo = ~hit
        if cap is not None:
            todo &= xs @ cap[0] >= cap[1]
        idx = np.flatnonzero(todo)
        if not len(idx):
            continue
        x = xs[idx]
        a = np.concatenate(rings)
        b = np.concatenate([np.roll(r, -1, axis=0) for r in rings])
        on = _on_segments(x, a, b)
        inside = gd.winding_numbers(x, rings[0]) == orients[0]
        for h, o in zip(rings[1:], orients[1:]):
            inside &= gd.winding_numbers(x, h) != o
        hit[idx[on | inside]] = True
    for l in parts.lines:
        if len(l) == 1:
            hit |= gd.angle(xs, l[:1]) <= 1e-15
        else:
            hit |= _on_segments(xs, l[:-1], l[1:])
    if len(parts.points):
        hit |= np.any(gd.angle(xs[:, None, :], parts.points[None]) <= PT_TOL, axis=1)
    return hit


def _on_segments(xs: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per point of ``xs``: within 1e-15 rad of any segment
    ``a[j]-b[j]``, over (points, segments) blocks."""
    out = np.zeros(len(xs), dtype=bool)
    rows = max(1, gd._PAIR_BLOCK // len(a))
    for i in range(0, len(xs), rows):
        d = gd.point_segment_distance(xs[i : i + rows, None, :], a[None], b[None])
        out[i : i + rows] = np.any(d <= 1e-15, axis=1)
    return out


def _crosses_boundary_transversally(a: "_Parts", chain: np.ndarray, ring=False) -> bool:
    if len(chain) < 2:
        return False
    c0 = chain if ring else chain[:-1]
    c1 = np.roll(chain, -1, axis=0) if ring else chain[1:]
    for rings in a.polygons:
        for r in rings:
            r1 = np.roll(r, -1, axis=0)
            # proper crossing test, strict (boundary touching allowed in CLOSED model)
            A0, A1 = c0[:, None, :], c1[:, None, :]
            B0, B1 = r[None, :, :], r1[None, :, :]
            da = gd._det3(A0, A1, B0)
            db = gd._det3(A0, A1, B1)
            dc = gd._det3(B0, B1, A0)
            dd = gd._det3(B0, B1, A1)
            crossing = (da * db < 0) & (dc * dd < 0) & gd._same_hemisphere(A0, A1, B0, B1)
            # Edge pairs sharing a vertex (adjacent ring edges, or the
            # chain tested against itself) can't cross transversally
            # (two sub-180° geodesics meeting at an endpoint intersect
            # again only at the antipode), but their dets are rounding
            # noise (~1e-17, sign arbitrary) instead of exact zeros —
            # mask them out rather than trust the sign test.
            shared = (
                np.all(A0 == B0, axis=-1)
                | np.all(A0 == B1, axis=-1)
                | np.all(A1 == B0, axis=-1)
                | np.all(A1 == B1, axis=-1)
            )
            if np.any(crossing & ~shared):
                return True
    return False


def equals(g1: Geography, g2: Geography) -> bool:
    """Geometric equality via mutual containment
    (src/s2_binary_index_ops.cpp:133-155)."""
    if g1.is_empty() or g2.is_empty():
        return False
    return contains(g1, g2) and contains(g2, g1)


def may_intersect(g1: Geography, g2: Geography) -> bool:
    """Covering-overlap prefilter; false negatives impossible
    (src/s2_binary_index_ops.cpp:54-83, :450-461)."""
    if g1.is_empty() or g2.is_empty():
        return False
    from ..s2.coverer import covering_of_geography

    c1 = covering_of_geography(g1)
    c2 = covering_of_geography(g2)
    return coverings_overlap(c1, c2)


def coverings_overlap(c1: np.ndarray, c2: np.ndarray) -> bool:
    if not len(c1) or not len(c2):
        return False
    lo1, hi1 = cm.range_min(c1), cm.range_max(c1)
    lo2, hi2 = cm.range_min(c2), cm.range_max(c2)
    return bool(np.any((lo1[:, None] <= hi2[None, :]) & (lo2[None, :] <= hi1[:, None])))


# ---------------------------------------------------------------------------
# distances
# ---------------------------------------------------------------------------


def _cast_pair_chord(g1: Geography, g2: Geography):
    """The reference's asymmetric both-``::S2_CELL_CENTER`` distance:
    chord(snapped lhs center, RAW rhs point) — its published goldens
    3354018.3501422736 for s2_distance AND s2_max_distance
    (test/sql/geography/binary_index_ops.test:174-178, 201-205) are
    reproducible only this way (decomposition pinned in
    tests/test_cellmath.py). Applies ONLY when both values carry the
    cast tag; returns None otherwise."""
    if not (
        g1.kind == KIND_CELL_CENTER
        and g2.kind == KIND_CELL_CENTER
        and g1.cast_tag
        and g2.cast_tag
    ):
        return None
    x1 = np.stack(cm.cellid_to_center_xyz(np.array([g1.cell_id], dtype=np.uint64)), axis=1)[0]
    if g2.raw_point is not None:
        x2 = gd.lonlat_deg_to_xyz(g2.raw_point[None, :])[0]
    else:
        x2 = np.stack(cm.cellid_to_center_xyz(np.array([g2.cell_id], dtype=np.uint64)), axis=1)[0]
    return float(gd.angle(x1, x2)) * R


def distance(g1: Geography, g2: Geography) -> float:
    """Min geodesic distance in meters; empty -> inf
    (src/s2_binary_index_ops.cpp:546-569, :617-648)."""
    if g1.is_empty() or g2.is_empty():
        return INF
    cast = _cast_pair_chord(g1, g2)
    if cast is not None:
        return cast
    return _parts_min_angle(parts_of(g1), parts_of(g2)) * R


def _parts_min_angle(a: "_Parts", b: "_Parts") -> float:
    """Min angle (radians) between two parts sets; 0 if they
    intersect. Shared by distance() and max_distance()'s antipode
    identity.

    Block-broadcast over edge pairs (VERDICT r6 item 4): a
    polygon x polygon pair runs four (m x n) endpoint-vs-segment
    numpy kernels instead of m*n per-pair Python calls. Dropping the
    per-pair crossing test is sound here because this stage is only
    reached after _parts_intersect() returned False, which includes
    the all-pairs segments_cross check."""
    if _parts_intersect(a, b):
        return 0.0
    best = INF
    if len(a.points) and len(b.points):
        best = min(best, float(np.min(gd.angle(a.points[:, None, :], b.points[None, :, :]))))
    for pts, other in ((a.points, b), (b.points, a)):
        if not len(pts):
            continue
        oe = other.edge_arrays()
        if oe is not None:
            best = min(best, gd.points_segments_min_angle(pts, oe[0], oe[1]))
        degv = other.degenerate_line_vertices()
        if len(degv):
            best = min(best, float(np.min(gd.angle(pts[:, None, :], degv[None, :, :]))))
    ea, eb = a.edge_arrays(), b.edge_arrays()
    if ea is not None and eb is not None:
        best = min(best, gd.segments_segments_min_angle(ea[0], ea[1], eb[0], eb[1]))
    return best


def max_distance(g1: Geography, g2: Geography) -> float:
    """Max geodesic distance in meters; empty -> inf
    (src/s2_binary_index_ops.cpp:571-615).

    Uses the SET-level antipode identity: max_angle(A, B) =
    pi - min_angle(A, -B), where -B is B reflected through the origin.
    This covers maxima attained at interior points of BOTH edge sets
    (when -A's edges cross B's, the min is 0 and the max is exactly
    pi) — a vertex sweep alone misses those (S2FurthestEdgeQuery
    parity). Point-only pairs keep the direct chord-max path so the
    reference goldens stay bit-exact."""
    if g1.is_empty() or g2.is_empty():
        return INF
    cast = _cast_pair_chord(g1, g2)
    if cast is not None:
        # single points: max == min == the chord (reference publishes
        # the same asymmetric golden for max_distance)
        return cast
    a, b = parts_of(g1), parts_of(g2)
    va, vb = _all_vertices(a), _all_vertices(b)
    if not len(va) or not len(vb):
        return INF
    # vertex-vertex pairs via direct chord math (bit-exact golden path)
    best = float(np.max(gd.angle(va[:, None, :], vb[None, :, :])))
    if a.lines or a.polygons or b.lines or b.polygons:
        refl = _Parts.from_components(
            -b.points if len(b.points) else b.points,
            [-l for l in b.lines],
            [[-r for r in rings] for rings in b.polygons],
        )
        best = max(best, math.pi - _parts_min_angle(a, refl))
    return best * R


def _all_vertices(parts: "_Parts") -> np.ndarray:
    chunks = [parts.points] if len(parts.points) else []
    chunks += parts.lines
    for rings in parts.polygons:
        chunks += rings
    return np.concatenate(chunks) if chunks else np.empty((0, 3))


def dwithin(g1: Geography, g2: Geography, meters: float) -> bool:
    """distance <= meters; empties -> false even for inf
    (src/s2_binary_index_ops.cpp:464-543)."""
    if g1.is_empty() or g2.is_empty():
        return False
    return distance(g1, g2) <= meters


# ---------------------------------------------------------------------------
# overlays
# ---------------------------------------------------------------------------


def _point_set_result(coords: np.ndarray) -> Geography:
    if len(coords) == 0:
        return Geography(KIND_COLLECTION)  # GEOMETRYCOLLECTION EMPTY
    if len(coords) == 1:
        return Geography(KIND_POINT, points=coords)
    return Geography(KIND_MULTIPOINT, points=coords)


def _is_pointy(g: Geography) -> bool:
    return not g.all_lines() and not g.all_polygons() and len(g.all_points()) > 0


def intersection(g1: Geography, g2: Geography) -> Geography:
    """A ^ B with the reference's empty-argument quirk: if either side
    is EMPTY the *other* side is returned
    (src/s2_binary_index_ops.cpp:341-356; binary_index_ops.test:70-80)."""
    if g1.is_empty():
        return g2
    if g2.is_empty():
        return g1
    if not may_intersect(g1, g2) or not intersects(g1, g2):
        return Geography(KIND_COLLECTION)
    if _is_pointy(g1) or _is_pointy(g2):
        pointy, other = (g1, g2) if _is_pointy(g1) else (g2, g1)
        op = parts_of(other)
        pts = pointy.all_points()
        xyz = gd.lonlat_deg_to_xyz(pts)
        keep = [i for i in range(len(pts)) if _covers_point(op, xyz[i])]
        return _point_set_result(pts[keep])
    if contains(g1, g2):
        return g2
    if contains(g2, g1):
        return g1
    return _general_overlay(g1, g2, "intersection")


def union(g1: Geography, g2: Geography) -> Geography:
    """A v B; empty short-circuits (src/s2_binary_index_ops.cpp:413-448)."""
    if g1.is_empty():
        return g2
    if g2.is_empty():
        return g1
    if _is_pointy(g1) and _is_pointy(g2):
        pts = np.concatenate([g1.all_points(), g2.all_points()])
        # dedupe exact duplicates, preserving order
        seen = set()
        keep = []
        for i, p in enumerate(pts):
            key = (float(p[0]), float(p[1]))
            if key not in seen:
                seen.add(key)
                keep.append(i)
        return _point_set_result(pts[keep])
    if contains(g1, g2):
        return g1
    if contains(g2, g1):
        return g2
    if not intersects(g1, g2):
        polys1, polys2 = g1.all_polygons(), g2.all_polygons()
        if polys1 and polys2 and not (g1.all_lines() or g2.all_lines() or len(g1.all_points()) or len(g2.all_points())):
            return Geography(KIND_MULTIPOLYGON, polygons=polys1 + polys2)
        return Geography(KIND_COLLECTION, geoms=[g1, g2])
    return _general_overlay(g1, g2, "union")


def difference(g1: Geography, g2: Geography) -> Geography:
    """A \\ B; lhs empty -> EMPTY, rhs empty -> lhs, disjoint -> lhs
    (src/s2_binary_index_ops.cpp:370-411)."""
    if g1.is_empty():
        return Geography(KIND_COLLECTION)
    if g2.is_empty():
        return g1
    if not may_intersect(g1, g2) or not intersects(g1, g2):
        return g1
    if _is_pointy(g1):
        op = parts_of(g2)
        pts = g1.all_points()
        xyz = gd.lonlat_deg_to_xyz(pts)
        keep = [i for i in range(len(pts)) if not _covers_point(op, xyz[i])]
        return _point_set_result(pts[keep])
    if contains(g2, g1):
        return Geography(KIND_COLLECTION)
    return _general_overlay(g1, g2, "difference")


def _decompose_xyz(g: Geography):
    """(points_xyz list, lines_xyz list, polys_xyz list-of-ring-lists)."""
    pts = [x for x in gd.lonlat_deg_to_xyz(g.all_points())] if len(g.all_points()) else []
    lines = [gd.lonlat_deg_to_xyz(l) for l in g.all_lines() if len(l) >= 2]
    polys = [
        [gd.lonlat_deg_to_xyz(r) for r in rings if len(r) >= 3]
        for rings in g.all_polygons()
    ]
    polys = [p for p in polys if p]
    return pts, lines, polys


def _assemble_overlay_result(out_polys, out_lines, out_pts) -> Geography:
    geoms: List[Geography] = []
    if out_polys:
        rings_lonlat = [
            [gd.xyz_to_lonlat_deg(_close_open(r)) for r in rings] for rings in out_polys
        ]
        if len(rings_lonlat) == 1:
            geoms.append(Geography(KIND_POLYGON, polygons=rings_lonlat))
        else:
            geoms.append(Geography(KIND_MULTIPOLYGON, polygons=rings_lonlat))
    if out_lines:
        lls = [gd.xyz_to_lonlat_deg(l) for l in out_lines]
        if len(lls) == 1:
            geoms.append(Geography(KIND_LINESTRING, lines=lls))
        else:
            geoms.append(Geography(KIND_MULTILINESTRING, lines=lls))
    if out_pts:
        arr = gd.xyz_to_lonlat_deg(np.array(out_pts))
        geoms.append(_point_set_result(arr))
    if not geoms:
        return Geography(KIND_COLLECTION)
    if len(geoms) == 1:
        return geoms[0]
    return Geography(KIND_COLLECTION, geoms=geoms)


def _close_open(ring: np.ndarray) -> np.ndarray:
    """Overlay rings have an implicit closing edge; WKT rings repeat
    the first vertex, which Geography stores explicitly."""
    return ring


def _dedupe_xyz_points(pts: List[np.ndarray]) -> List[np.ndarray]:
    seen = set()
    out = []
    for p in pts:
        k = tuple(np.round(p * 1e12))
        if k not in seen:
            seen.add(k)
            out.append(p)
    return out


def _general_overlay(g1: Geography, g2: Geography, op: str) -> Geography:
    """General overlay via spherical edge classification
    (geo/overlay.py): polygons with holes, shared-boundary and
    vertex-touch degeneracies, and mixed-dimension inputs — the
    S2BooleanOperation role (src/s2_binary_index_ops.cpp:328-448).

    Dimension semantics match the reference's CLOSED models: each
    result dimension is computed from the set semantics of the inputs'
    parts (e.g. intersection lines = A-lines within B plus B-lines
    within A plus line/line overlaps-and-crossings)."""
    from . import overlay as ov

    pts1, lines1, polys1 = _decompose_xyz(g1)
    pts2, lines2, polys2 = _decompose_xyz(g2)
    parts1, parts2 = parts_of(g1), parts_of(g2)
    out_polys: List[List[np.ndarray]] = []
    out_lines: List[np.ndarray] = []
    out_pts: List[np.ndarray] = []

    if op == "intersection":
        if polys1 and polys2:
            out_polys, deg_l, deg_p = ov.overlay_polygons_full(
                polys1, polys2, "intersection"
            )
            out_lines.extend(deg_l)
            out_pts.extend(deg_p)
        for l in lines1:
            if polys2:
                out_lines.extend(ov.clip_polyline_to_region(l, polys2, "inside"))
        for l in lines2:
            if polys1:
                out_lines.extend(ov.clip_polyline_to_region(l, polys1, "inside"))
        if lines1 and lines2:
            ll, lp = ov.polyline_overlay(lines1, lines2, "intersection")
            out_lines.extend(ll)
            out_pts.extend(lp)
        for x in pts1:
            if _covers_point(parts2, x):
                out_pts.append(x)
        for x in pts2:
            if _covers_point(parts1, x):
                out_pts.append(x)
        # a point present in BOTH inputs is collected once from each
        # side — dedupe like the union branch does
        out_pts = _dedupe_xyz_points(out_pts)
    elif op == "difference":
        if polys1:
            out_polys = (
                ov.overlay_polygons(polys1, polys2, "difference") if polys2 else polys1
            )
        for l in lines1:
            runs = [l]
            if polys2:
                runs = ov.clip_polyline_to_region(l, polys2, "outside")
            if lines2:
                nxt: List[np.ndarray] = []
                for r in runs:
                    rl, _ = ov.polyline_overlay([r], lines2, "difference")
                    nxt.extend(rl)
                runs = nxt
            out_lines.extend(runs)
        for x in pts1:
            if not _covers_point(parts2, x):
                out_pts.append(x)
    elif op == "union":
        if polys1 and polys2:
            out_polys = ov.overlay_polygons(polys1, polys2, "union")
        else:
            out_polys = polys1 + polys2
        la: List[np.ndarray] = []
        for l in lines1:
            la.extend(ov.clip_polyline_to_region(l, polys2, "outside") if polys2 else [l])
        lb: List[np.ndarray] = []
        for l in lines2:
            lb.extend(ov.clip_polyline_to_region(l, polys1, "outside") if polys1 else [l])
        if la and lb:
            ml, _ = ov.polyline_overlay(la, lb, "union")
            out_lines.extend(ml)
        else:
            out_lines.extend(la or lb)
        for x in pts1:
            if not _covers_point(parts2, x):
                out_pts.append(x)
        for x in pts2:
            if not _covers_point(parts1, x):
                out_pts.append(x)
        out_pts = _dedupe_xyz_points(out_pts)
    else:
        raise ValueError(f"unknown overlay op {op!r}")
    return _assemble_overlay_result(out_polys, out_lines, out_pts)


# ---------------------------------------------------------------------------
# bounds (S2LatLngRect semantics, degrees, antimeridian-aware)
# ---------------------------------------------------------------------------

#: S2LatLngRect::Empty() in degrees (bounds.test:36-39)
EMPTY_RECT = (180.0, math.degrees(1.0), -180.0, 0.0)


def bounds_rect(g: Geography) -> Tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) degrees; xmin > xmax crosses the
    antimeridian (src/s2_bounds.cpp:147-202). Latitudes account for
    geodesic edge bulge like S2's RectBounder."""
    if g.is_empty():
        return EMPTY_RECT
    if g.kind == KIND_CELL_CENTER and not g.cast_tag and g.raw_point is not None:
        # The reference's published rect goldens for sample points are
        # the RAW (pre-snap) coordinates through the standard S2
        # point->LatLng conversion (bounds.test:74-80: the cities agg
        # xmin is exactly -123.12359 and ymin carries the xyz-roundtrip
        # tail -41.29998789999999 — both reproducible only from the
        # raw parse coordinates, not the leaf-snapped center).
        # CAST-TAGGED values are excluded: the reference's
        # ::S2_CELL_CENTER stores only the cell id, so its bounds are
        # the snapped center — and s2_snap_to_cell_center documents
        # that every consumer except the both-cast distance sees the
        # snapped center.
        x = gd.lonlat_deg_to_xyz(g.raw_point[None, :])[0]
        lng = math.degrees(math.atan2(x[1], x[0]))
        lat1 = math.degrees(math.atan2(x[2], math.hypot(x[0], x[1])))
        return (lng, lat1, lng, lat1)
    parts = parts_of(g)
    verts = _all_vertices(parts)
    # latitude tracked in RADIANS with S2LatLng::Latitude's exact form
    # (atan2(z, sqrt(x^2+y^2))), converted to degrees only at the end —
    # this reproduces the reference's published decimals vertex-for-
    # vertex (e.g. Greenland's 83.64513000000002 in bounds.test:81).
    # Two atan2s feed the min/max and both are kept, since they can
    # differ in the last bit: np.arctan2 for every vertex (here), and
    # math.atan2 for every edge endpoint and for each edge apex that
    # lies on its arc (below, and in _edge_lat_extremes_rad).
    x, y, z = gd.columns(verts)
    lat_r = np.arctan2(z, np.sqrt(x**2 + y**2))
    lat_lo_r, lat_hi_r = float(np.min(lat_r)), float(np.max(lat_r))
    # longitude interval: union of per-EDGE spans (S2 RectBounder's
    # FromPointPair semantics) — adding vertices one at a time extends
    # the interval the shortest way toward each new VERTEX, which can
    # exclude the interior of an edge that runs the other way round
    lng_int = None
    if len(parts.points):
        x, y, _ = gd.columns(parts.points)
        plngs = np.degrees(np.arctan2(y, x))
        for p in plngs:
            span = _LngInterval.from_point(float(p))
            lng_int = span if lng_int is None else lng_int.union(span)
    # edge bulge: a geodesic edge can reach beyond its endpoint latitudes
    has_edges = False
    for chain in parts.chains():
        has_edges = True
        lngs, lats = [], []
        for x, y, z in chain.tolist():
            lngs.append(math.degrees(math.atan2(y, x)))
            lats.append(math.atan2(z, math.sqrt(x * x + y * y)))
        lat_lo_r = min(lat_lo_r, min(lats))
        lat_hi_r = max(lat_hi_r, max(lats))
        a0, a1 = chain[:-1], chain[1:]
        for i in np.flatnonzero(_apex_may_lie_on_edge(a0, a1)).tolist():
            lo, hi = _edge_lat_extremes_rad(a0[i], a1[i])
            lat_lo_r = min(lat_lo_r, lo)
            lat_hi_r = max(lat_hi_r, hi)
        for i in range(len(chain) - 1):
            span = _LngInterval.from_point_pair(lngs[i], lngs[i + 1])
            lng_int = span if lng_int is None else lng_int.union(span)
    if lng_int is None:  # no points, no edges
        return EMPTY_RECT
    if has_edges:
        # S2 RectBounder's final error expansion: latitudes widen by
        # 2*DBL_EPSILON radians (lat only, clamped to the poles) —
        # the source of the +-2.5e-14-degree tails in the reference's
        # polygon-bounds goldens (bounds.test:83-101)
        eps2 = 2.0 * 2.220446049250313e-16
        lat_lo_r = max(-0.5 * math.pi, lat_lo_r - eps2)
        lat_hi_r = min(0.5 * math.pi, lat_hi_r + eps2)
    lat_lo, lat_hi = math.degrees(lat_lo_r), math.degrees(lat_hi_r)
    # pole containment -> full rect behavior
    north = np.array([0.0, 0.0, 1.0])
    south = np.array([0.0, 0.0, -1.0])
    if parts.polygons:
        if parts.poly_contains(north):
            lat_hi = 90.0
            lng_int = _LngInterval(-180.0, 180.0)
        if parts.poly_contains(south):
            lat_lo = -90.0
            lng_int = _LngInterval(-180.0, 180.0)
    return (lng_int.lo, lat_lo, lng_int.hi, lat_hi)


#: slack of the apex screen on the unit tangent's z-component
_APEX_SLACK = 1e-9


def _apex_may_lie_on_edge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(m,) bool: the great circle's northernmost or southernmost point
    may lie on edge a-b. Along an arc shorter than pi the latitude has
    an interior extreme only where the tangent's z-component changes
    sign, so edges whose end tangents clearly share a sign are screened
    out; near-degenerate edges always pass to the exact scalar test."""
    n = gd.cross3(a, b)
    nn = gd._dot(n, n)
    with np.errstate(divide="ignore", invalid="ignore"):
        scale = 1.0 / np.sqrt(nn)
    # z-component of the unit tangent n x p at each end
    ga = (n[:, 0] * a[:, 1] - n[:, 1] * a[:, 0]) * scale
    gb = (n[:, 0] * b[:, 1] - n[:, 1] * b[:, 0]) * scale
    same = ((ga > _APEX_SLACK) & (gb > _APEX_SLACK)) | (
        (ga < -_APEX_SLACK) & (gb < -_APEX_SLACK)
    )
    return (nn < 1e-10) | ~same


def _edge_lat_extremes_rad(a: np.ndarray, b: np.ndarray) -> Tuple[float, float]:
    """Latitude extremes of edge a-b in RADIANS (S2LatLng's atan2 form)."""

    def lat(v):
        return math.atan2(v[2], math.sqrt(v[0] * v[0] + v[1] * v[1]))

    la, lb = lat(a), lat(b)
    lo, hi = min(la, lb), max(la, lb)
    n = np.cross(a, b)
    nn = float(np.dot(n, n))
    if nn < 1e-30:
        return lo, hi
    # northernmost point of the great circle
    z = np.array([0.0, 0.0, 1.0])
    t = np.cross(n, np.cross(z, n))
    tn = float(np.linalg.norm(t))
    if tn < 1e-30:
        return lo, hi
    apex = t / tn
    for cand in (apex, -apex):
        if _on_arc(cand, a, b, n):
            lc = lat(cand)
            lo, hi = min(lo, lc), max(hi, lc)
    return lo, hi


def _on_arc(x, a, b, n) -> bool:
    return bool(np.dot(np.cross(a, x), n) >= 0 and np.dot(np.cross(x, b), n) >= 0)


class _LngInterval:
    """S1Interval in degrees: lo > hi means wrapping across +-180."""

    def __init__(self, lo: float, hi: float):
        self.lo = lo
        self.hi = hi

    @staticmethod
    def from_point(p: float) -> "_LngInterval":
        if p == -180.0:
            p = 180.0
        return _LngInterval(p, p)

    @staticmethod
    def from_point_pair(p1: float, p2: float) -> "_LngInterval":
        """Shortest interval containing both points (S1Interval::
        FromPointPair) — the span of a single geodesic edge."""
        if p1 == -180.0:
            p1 = 180.0
        if p2 == -180.0:
            p2 = 180.0
        if _pos_angle(p2 - p1) <= 180.0:
            return _LngInterval(p1, p2)
        return _LngInterval(p2, p1)

    def length(self) -> float:
        if self.is_full():
            return 360.0
        return _pos_angle(self.hi - self.lo)

    def is_full(self) -> bool:
        return self.lo == -180.0 and self.hi == 180.0

    def contains(self, p: float) -> bool:
        if p == -180.0:
            p = 180.0
        if self.lo <= self.hi:
            return self.lo <= p <= self.hi
        return p >= self.lo or p <= self.hi

    def is_inverted(self) -> bool:
        return self.lo > self.hi

    def contains_interval(self, other: "_LngInterval") -> bool:
        """Interval (not just endpoint) containment — S1Interval::Contains.

        Needed because both endpoints of ``other`` lying inside ``self``
        does NOT imply other ⊆ self when the two jointly wrap the circle
        (e.g. self=[-170,170], other=(160,-160) through the antimeridian).
        """
        if self.is_inverted():
            if other.is_inverted():
                return other.lo >= self.lo and other.hi <= self.hi
            return other.lo >= self.lo or other.hi <= self.hi
        if other.is_inverted():
            return self.is_full()
        return other.lo >= self.lo and other.hi <= self.hi

    def add_point(self, p: float) -> None:
        """Extend by the shorter side (S1Interval::AddPoint)."""
        if p == -180.0:
            p = 180.0
        if self.is_full() or self.contains(p):
            return
        dlo = _pos_angle(self.lo - p)
        dhi = _pos_angle(p - self.hi)
        if dlo < dhi:
            self.lo = p
        else:
            self.hi = p

    def union(self, other: "_LngInterval") -> "_LngInterval":
        """S1Interval::Union — the smallest interval containing both
        FULL intervals (not just the other's endpoints)."""
        full = _LngInterval(-180.0, 180.0)
        if self.is_full() or other.is_full():
            return full
        in_lo, in_hi = self.contains(other.lo), self.contains(other.hi)
        if in_lo and in_hi:
            # other ⊆ self, or the two jointly wrap the whole circle.
            # A length comparison is NOT sufficient to tell these apart
            # (self=[-170,170] vs other=(160,-160): other is shorter yet
            # not contained) — use real interval containment like
            # S1Interval::Union does.
            if self.contains_interval(other):
                return _LngInterval(self.lo, self.hi)
            return full
        if in_lo:
            return _LngInterval(self.lo, other.hi)
        if in_hi:
            return _LngInterval(other.lo, self.hi)
        if other.contains(self.lo):  # self ⊆ other
            return _LngInterval(other.lo, other.hi)
        # disjoint: extend whichever direction adds less arc
        if _pos_angle(self.lo - other.hi) < _pos_angle(other.lo - self.hi):
            return _LngInterval(other.lo, self.hi)
        return _LngInterval(self.lo, other.hi)


def _pos_angle(d: float) -> float:
    return d % 360.0
