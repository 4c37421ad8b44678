"""Spherical geometry primitives (numpy), matching S2 semantics.

Clean-room implementations of the standard spherical algorithms the
reference gets from s2geometry: geodesic angle/distance, point-to-
segment distance, edge crossings, point-in-loop, spherical polygon
area (Van Oosterom & Strackee solid-angle fan sum).

Distances are returned in **radians**; multiply by
:data:`EARTH_RADIUS_METERS` (S2Earth's mean radius) for meters
(reference: src/s2_binary_index_ops.cpp:601-603 scales the same way).
"""

from __future__ import annotations

import numpy as np

#: S2Earth::RadiusMeters() — mean earth radius used by the reference
EARTH_RADIUS_METERS = 6371010.0


def lonlat_deg_to_xyz(coords: np.ndarray) -> np.ndarray:
    """(n,2) lon/lat degrees -> (n,3) unit vectors."""
    lon = np.radians(coords[:, 0])
    lat = np.radians(coords[:, 1])
    cos_lat = np.cos(lat)
    return np.stack([cos_lat * np.cos(lon), cos_lat * np.sin(lon), np.sin(lat)], axis=1)


def columns(pts: np.ndarray) -> np.ndarray:
    """(3,n) contiguous copy of the x, y and z columns of (n,3) ``pts``.

    numpy's SIMD ``arctan2`` (and its other SVML ufuncs) runs only when
    no operand's memory span overlaps the output's, and a strided
    column's span runs past its array's end: fed a column view, the
    ufunc takes the SIMD or the libm path (which can differ in the last
    bit) by where the allocator put the output. Contiguous columns
    always take the SIMD path."""
    return np.ascontiguousarray(np.asarray(pts, dtype=np.float64).reshape(-1, 3).T)


def xyz_to_lonlat_deg(pts: np.ndarray) -> np.ndarray:
    """(n,3) unit vectors -> (n,2) lon/lat degrees (snapped values)."""
    x, y, z = columns(pts)
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    return np.stack([lon, lat], axis=1)


def angle(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Angle between unit vectors in radians, via the chord formula
    (2*asin(|a-b|/2)) — S1ChordAngle's conversion, numerically stable
    for small angles and what S2 distance queries produce."""
    d = a - b
    chord2 = np.sum(d * d, axis=-1)
    return 2.0 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(chord2)))


def max_angle(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Angle via the antipodal chord (for furthest-distance queries)."""
    d = a + b
    chord2 = np.sum(d * d, axis=-1)
    return np.pi - 2.0 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(chord2)))


def polyline_length(vertices_xyz: np.ndarray) -> float:
    """Sum of geodesic edge lengths, radians."""
    if len(vertices_xyz) < 2:
        return 0.0
    return float(np.sum(angle(vertices_xyz[:-1], vertices_xyz[1:])))


def ring_perimeter(ring_xyz: np.ndarray) -> float:
    """Perimeter of a closed ring (closing edge included), radians."""
    if len(ring_xyz) < 2:
        return 0.0
    nxt = np.roll(ring_xyz, -1, axis=0)
    return float(np.sum(angle(ring_xyz, nxt)))


def ring_signed_area(ring_xyz: np.ndarray) -> float:
    """Signed spherical area of a ring (steradians), CCW positive.

    Fan of spherical triangles from vertex 0, each measured with the
    Van Oosterom & Strackee solid-angle formula
    (tan(E/2) = v0.(v1 x v2) / (1 + v0.v1 + v1.v2 + v2.v0)).
    """
    n = len(ring_xyz)
    if n < 3:
        return 0.0
    v0 = ring_xyz[0]
    v1 = ring_xyz[1:-1]
    v2 = ring_xyz[2:]
    # v0.(v1 x v2) == v0.((v1-v0) x (v2-v0)) exactly, but the
    # difference form avoids the catastrophic cancellation that makes
    # the raw triple pure noise for tiny rings (a leaf-cell quad is
    # ~1e-9 rad across: raw cross products carry ~1e-16 absolute error
    # against a ~1e-19 signal, so even the SIGN came out random)
    d1 = v1 - v0
    d2 = v2 - v0
    triple = np.einsum("ij,ij->i", np.cross(d1, d2), np.broadcast_to(v0, d1.shape))
    denom = 1.0 + v1 @ v0 + np.einsum("ij,ij->i", v1, v2) + v2 @ v0
    return float(np.sum(2.0 * np.arctan2(triple, denom)))


def ring_area(ring_xyz: np.ndarray) -> float:
    """Unsigned ring area normalized like an S2 loop: the enclosed
    region is the smaller-area side (<= 2*pi steradians)."""
    a = abs(ring_signed_area(ring_xyz))
    return min(a, 4.0 * np.pi - a)


def cross3(a, b) -> np.ndarray:
    """Component-wise cross product for (..., 3) arrays.

    np.cross pays moveaxis/broadcast overhead on every call, which
    dominates the coverer's small-batch hot path; this is the same
    math with plain slicing."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    out = np.empty(np.broadcast_shapes(a.shape, b.shape), dtype=np.float64)
    out[..., 0] = a[..., 1] * b[..., 2] - a[..., 2] * b[..., 1]
    out[..., 1] = a[..., 2] * b[..., 0] - a[..., 0] * b[..., 2]
    out[..., 2] = a[..., 0] * b[..., 1] - a[..., 1] * b[..., 0]
    return out


def _dot(a, b) -> np.ndarray:
    return (
        a[..., 0] * b[..., 0] + a[..., 1] * b[..., 1] + a[..., 2] * b[..., 2]
    )


def point_segment_distance(x, a, b) -> np.ndarray:
    """Min angle from point(s) x to geodesic segment(s) a-b, radians.

    Fully broadcastable over leading dimensions of (..., 3) inputs.
    """
    x = np.asarray(x, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    x, a, b = np.broadcast_arrays(x, a, b)
    n = cross3(a, b)
    nn = _dot(n, n)
    end_min = np.minimum(angle(x, a), angle(x, b))
    with np.errstate(divide="ignore", invalid="ignore"):
        t = _dot(x, n) / np.where(nn > 0, nn, 1.0)
        p = x - t[..., None] * n
        pn = np.sqrt(_dot(p, p))
        pu = p / np.where(pn > 0, pn, 1.0)[..., None]
    within = (_dot(cross3(a, pu), n) >= 0) & (_dot(cross3(pu, b), n) >= 0)
    ok = (nn > 1e-30) & (pn > 1e-30) & within
    return np.where(ok, angle(x, pu), end_min)


def _det3(a, b, c) -> np.ndarray:
    return _dot(cross3(a, b), c)


def segments_cross(a0, a1, b0, b1) -> np.ndarray:
    """Proper-crossing test for geodesic segments (broadcastable).

    True when the interiors cross; boundary touches count as crossing
    (CLOSED-model friendly, matching the reference's configured
    polygon/polyline models, src/include/global_options.hpp:11-14).
    """
    return segments_cross_n(a0, a1, cross3(a0, a1), b0, b1, cross3(b0, b1))


def segments_cross_n(a0, a1, na, b0, b1, nb) -> np.ndarray:
    """:func:`segments_cross` given the normals ``na = a0 x a1`` and
    ``nb = b0 x b1``, for callers that test one segment against many:
    the same arithmetic, with each normal computed once."""
    d1 = _dot(na, b0)
    d2 = _dot(na, b1)
    d3 = _dot(nb, a0)
    d4 = _dot(nb, a1)
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)
    # the two candidate crossing points are +-(n1 x n2); require one of
    # them to lie on both arcs (rules out antipodal false positives)
    touch = (d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0)
    cross = proper & _same_hemisphere(a0, a1, b0, b1)
    if not np.any(touch):
        # exact-zero determinants are vanishingly rare on real data;
        # skipping the four endpoint-on-arc broadcasts here roughly
        # halves the all-pairs crossing test
        return cross
    return cross | (touch & _touch_on_arc(a0, a1, b0, b1))


def _same_hemisphere(a0, a1, b0, b1) -> np.ndarray:
    return _dot(a0 + a1, b0 + b1) > 0


def _touch_on_arc(a0, a1, b0, b1) -> np.ndarray:
    """Endpoint-on-segment check used for the degenerate touch cases."""
    eps = 1e-15
    out = point_segment_distance(b0, a0, a1) <= eps
    out |= point_segment_distance(b1, a0, a1) <= eps
    out |= point_segment_distance(a0, b0, b1) <= eps
    out |= point_segment_distance(a1, b0, b1) <= eps
    return out


def point_on_segment(x, a, b, eps=1e-15) -> np.ndarray:
    """True when x lies on the geodesic segment a-b (within eps rad)."""
    return point_segment_distance(x, a, b) <= eps


def winding_number(x: np.ndarray, ring_xyz: np.ndarray) -> int:
    """Winding of a closed ring around point x (tangent-plane angles).

    +-1 when x is enclosed, 0 outside. Points very near the boundary
    are resolved by :func:`point_on_segment` in callers. One row of
    :func:`winding_numbers`, so a point decides alike alone or in a
    batch.
    """
    return int(winding_numbers(x[None, :], ring_xyz)[0])


def ring_orientation(ring_xyz: np.ndarray) -> int:
    """+1 for a CCW ring (as seen from outside the sphere), -1 for CW,
    judged around the smaller enclosed side. The winding number at the
    *antipode* of an enclosed point is the opposite sign, so containment
    must compare winding against this orientation — testing ``!= 0``
    wrongly classifies the antipodal mirror region as inside."""
    return 1 if ring_signed_area(ring_xyz) >= 0.0 else -1


def ring_contains_point(ring_xyz: np.ndarray, x: np.ndarray, closed: bool = True) -> bool:
    """Point-in-ring with CLOSED boundary semantics (boundary counts)."""
    if len(ring_xyz) < 3:
        return False
    if closed:
        nxt = np.roll(ring_xyz, -1, axis=0)
        if np.any(point_segment_distance(x[None, :], ring_xyz, nxt) <= 1e-15):
            return True
    return winding_number(x, ring_xyz) == ring_orientation(ring_xyz)


def min_distance_point_to_ring_edges(x: np.ndarray, ring_xyz: np.ndarray) -> float:
    nxt = np.roll(ring_xyz, -1, axis=0)
    return float(np.min(point_segment_distance(x[None, :], ring_xyz, nxt)))


def min_distance_point_to_polyline(x: np.ndarray, line_xyz: np.ndarray) -> float:
    if len(line_xyz) == 0:
        return np.inf
    if len(line_xyz) == 1:
        return float(angle(x[None, :], line_xyz[:1])[0])
    return float(np.min(point_segment_distance(x[None, :], line_xyz[:-1], line_xyz[1:])))


def segment_segment_min_distance(a0, a1, b0, b1) -> float:
    """Min angle between two geodesic segments."""
    if segments_cross(a0[None, :], a1[None, :], b0[None, :], b1[None, :])[0]:
        return 0.0
    cands = [
        point_segment_distance(a0[None, :], b0, b1)[0],
        point_segment_distance(a1[None, :], b0, b1)[0],
        point_segment_distance(b0[None, :], a0, a1)[0],
        point_segment_distance(b1[None, :], a0, a1)[0],
    ]
    return float(min(cands))


# Pair-block size for the O(m*n) broadcast kernels below: 1<<20 pairs
# x 8 bytes x ~6 live temporaries ~= 50 MB peak per block — large
# enough to amortize numpy dispatch, small enough for executor heaps.
_PAIR_BLOCK = 1 << 20


def winding_numbers(xs: np.ndarray, ring_xyz: np.ndarray, block: int = _PAIR_BLOCK) -> np.ndarray:
    """Winding of one closed ring around every point of ``xs`` (m,3),
    as an int array: +-1 enclosed, 0 outside, and 1 where a vertex
    coincides with the point (CLOSED). Evaluated over (points,
    vertices) blocks of at most ``block`` pairs; tests pass a small
    ``block`` to cross block edges."""
    m, v = len(xs), len(ring_xyz)
    out = np.empty(m, dtype=np.int64)
    rows = max(1, block // max(v, 1))
    for i in range(0, m, rows):
        x = xs[i : i + rows, None, :]
        # tangent-plane directions of each vertex as seen from x
        d = ring_xyz[None, :, :] - _dot(ring_xyz[None, :, :], x)[:, :, None] * x
        norms = np.linalg.norm(d, axis=2)
        coincide = np.any(norms < 1e-14, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            d = d / norms[:, :, None]
        d_next = np.roll(d, -1, axis=1)
        cosang = np.clip(np.einsum("mij,mij->mi", d, d_next), -1.0, 1.0)
        sinang = np.einsum("mij,mij->mi", cross3(d, d_next), np.broadcast_to(x, d.shape))
        total = np.sum(np.arctan2(sinang, cosang), axis=1)
        w = np.round(total / (2.0 * np.pi))
        out[i : i + rows] = np.where(coincide, 1, w)
    return out


def points_segments_min_angle(pts, e0, e1, block: int = _PAIR_BLOCK) -> float:
    """Min angle from any point in ``pts`` (m,3) to any geodesic
    segment ``e0[j]-e1[j]`` (n,3) — the edge-classification inner loop
    of distance(), block-broadcast instead of per-pair Python calls."""
    m, n = len(pts), len(e0)
    if m == 0 or n == 0:
        return np.inf
    best = np.inf
    rows = max(1, block // n)
    E0, E1 = e0[None, :, :], e1[None, :, :]
    for i in range(0, m, rows):
        d = point_segment_distance(pts[i : i + rows, None, :], E0, E1)
        best = min(best, float(np.min(d)))
    return best


def segments_cross_any(a0, a1, b0, b1, block: int = _PAIR_BLOCK) -> bool:
    """True when ANY pair of segments from the two sets crosses —
    the all-pairs stage of the intersection test, block-broadcast."""
    m, n = len(a0), len(b0)
    if m == 0 or n == 0:
        return False
    rows = max(1, block // n)
    B0, B1 = b0[None, :, :], b1[None, :, :]
    for i in range(0, m, rows):
        A0 = a0[i : i + rows, None, :]
        A1 = a1[i : i + rows, None, :]
        if np.any(segments_cross(A0, A1, B0, B1)):
            return True
    return False


def segments_segments_min_angle(a0, a1, b0, b1, block: int = _PAIR_BLOCK) -> float:
    """Min angle between two geodesic segment sets, block-broadcast.

    PRECONDITION: no pair may properly cross (the caller must have
    ruled that out — e.g. distance() only reaches the edge stage after
    _parts_intersect() returned False, which tests exactly the all-pairs
    segments_cross). For non-crossing arcs the minimum is attained at
    an endpoint of one segment against the other segment, so the four
    endpoint-vs-segment broadcasts cover every pair."""
    m, n = len(a0), len(b0)
    if m == 0 or n == 0:
        return np.inf
    best = np.inf
    rows = max(1, block // n)
    B0, B1 = b0[None, :, :], b1[None, :, :]
    for i in range(0, m, rows):
        A0 = a0[i : i + rows, None, :]
        A1 = a1[i : i + rows, None, :]
        d = np.minimum(
            point_segment_distance(A0, B0, B1),
            point_segment_distance(A1, B0, B1),
        )
        d = np.minimum(d, point_segment_distance(B0, A0, A1))
        d = np.minimum(d, point_segment_distance(B1, A0, A1))
        best = min(best, float(np.min(d)))
    return best
