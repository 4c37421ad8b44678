"""Vectorized S2 cell-id math (numpy, no external geo libs).

Implements the public S2 cell-id algorithms (quadratic projection +
Hilbert curve traversal) as described in the s2geometry documentation
and verified against the reference's golden values
(reference: /root/reference test/sql/geography/cell_ops.test:83-85,
:169-178 — e.g. lon/lat (-64, 45) -> token ``4b59a0cd83b5de49`` ->
debug string ``2/112230310012123001312232330210``).

All array functions operate on ``np.uint64`` cell ids. Spark stores
cell ids as signed ``LongType`` with the same bit pattern (SURVEY.md
S1.1); use :func:`to_unsigned` / :func:`to_signed` at the boundary.

This is a clean-room implementation from the published algorithm —
no code is taken from the reference repo (which is C++ calling into
s2geometry; see SURVEY.md S2.7 for the operator contract it defines).
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61
MAX_SIZE = 1 << MAX_LEVEL  # 2**30 (leaf ij range)

U64 = np.uint64
_1 = U64(1)
_2 = U64(2)

#: id returned for invalid inputs (matches the reference's sentinel,
#: reference: src/s2_cell_ops.cpp "kCellIdSentinel" usage, cell_ops.test:90)
SENTINEL = U64(0xFFFFFFFFFFFFFFFF)
#: id of the "invalid cell" produced by a failed token parse (id 0)
INVALID = U64(0)

# Hilbert curve orientation tables (public S2 constants).
# orientation bit 0 = swap, bit 1 = invert.
IJ_TO_POS = np.array(
    [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]], dtype=np.uint64
)
POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.uint64
)
POS_TO_ORIENT = np.array([1, 0, 0, 3], dtype=np.uint64)

# Multi-level Hilbert lookup tables (S2's kLookupBits trick): process
# _LOOKUP_BITS levels per iteration instead of one, turning the 30-step
# decode/encode loops into 6 steps. Built once at import from the
# per-level tables above, so the semantics are identical by
# construction.
_LOOKUP_BITS = 5
_LOOKUP_MASK = U64((1 << (2 * _LOOKUP_BITS)) - 1)


def _build_hilbert_tables(bits: int):
    n = 1 << (2 * bits)
    decode = np.zeros(4 * n, dtype=np.uint64)  # (orient, pos) -> (i, j, orient')
    encode = np.zeros(4 * n, dtype=np.uint64)  # (orient, ij) -> (pos, orient')
    for orient0 in range(4):
        for pos in range(n):
            o, i, j = orient0, 0, 0
            for k in range(bits - 1, -1, -1):
                d = (pos >> (2 * k)) & 3
                ij = int(POS_TO_IJ[o, d])
                i = (i << 1) | (ij >> 1)
                j = (j << 1) | (ij & 1)
                o = o ^ int(POS_TO_ORIENT[d])
            decode[(orient0 << (2 * bits)) | pos] = (i << (bits + 2)) | (j << 2) | o
        for ijc in range(n):
            o, pos = orient0, 0
            for k in range(bits - 1, -1, -1):
                ij = (((ijc >> (bits + k)) & 1) << 1) | ((ijc >> k) & 1)
                d = int(IJ_TO_POS[o, ij])
                pos = (pos << 2) | d
                o = o ^ int(POS_TO_ORIENT[d])
            encode[(orient0 << (2 * bits)) | ijc] = (pos << 2) | o
    return decode, encode


_HILBERT_DECODE, _HILBERT_ENCODE = _build_hilbert_tables(_LOOKUP_BITS)

# ---------------------------------------------------------------------------
# signed/unsigned boundary helpers (Spark LongType <-> uint64)
# ---------------------------------------------------------------------------


def to_unsigned(ids) -> np.ndarray:
    """int64 (Spark LongType bit pattern) -> uint64."""
    return np.asarray(ids, dtype=np.int64).view(np.uint64)


def to_signed(ids) -> np.ndarray:
    """uint64 -> int64 with the same bits (for Spark LongType)."""
    return np.asarray(ids, dtype=np.uint64).view(np.int64)


# ---------------------------------------------------------------------------
# lon/lat <-> XYZ <-> face/uv/st
# ---------------------------------------------------------------------------


def lonlat_to_xyz(lon_deg, lat_deg):
    """Geodetic degrees -> unit sphere vectors (3 arrays)."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    cos_lat = np.cos(lat)
    return cos_lat * np.cos(lon), cos_lat * np.sin(lon), np.sin(lat)


def xyz_to_lonlat(x, y, z):
    """Unit vectors -> (lon_deg, lat_deg).

    Signed zeros are normalized away and the poles get longitude 0 so
    text output matches the reference's formatting
    (test/sql/geography/cell_ops.test:63-66 prints ``0 90`` at a pole).
    """
    x = np.asarray(x, dtype=np.float64) + 0.0
    y = np.asarray(y, dtype=np.float64) + 0.0
    hyp = np.sqrt(x * x + y * y)
    lon = np.where(hyp == 0.0, 0.0, np.degrees(np.arctan2(y, x))) + 0.0
    lat = np.degrees(np.arctan2(z, hyp)) + 0.0
    return lon, lat


def xyz_to_face_uv(x, y, z):
    """Vector -> (face 0..5, u, v) using the standard S2 face layout."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (az >= ax) & (az >= ay),
        np.where(z < 0, 5, 2),
        np.where(ay >= ax, np.where(y < 0, 4, 1), np.where(x < 0, 3, 0)),
    ).astype(np.int64)
    u = np.empty_like(np.asarray(x, dtype=np.float64))
    v = np.empty_like(u)
    with np.errstate(divide="ignore", invalid="ignore"):
        for f, (ue, ve) in enumerate(
            [
                (lambda: y / x, lambda: z / x),
                (lambda: -x / y, lambda: z / y),
                (lambda: -x / z, lambda: -y / z),
                (lambda: z / x, lambda: y / x),
                (lambda: z / y, lambda: -x / y),
                (lambda: -y / z, lambda: -x / z),
            ]
        ):
            m = face == f
            if np.any(m):
                u = np.where(m, ue(), u)
                v = np.where(m, ve(), v)
    return face, u, v


#: per face, the (1, u, v) component and the sign of x, y and z — the
#: standard S2 face layout
_FACE_AXES = np.array([[0, 1, 2], [1, 0, 2], [1, 2, 0], [0, 2, 1], [2, 0, 1], [2, 1, 0]])
_FACE_SIGNS = np.array(
    [[1, 1, 1], [-1, 1, 1], [-1, -1, 1], [-1, -1, -1], [1, -1, -1], [1, 1, -1]], dtype=np.float64
)


def face_uv_to_xyz(face, u, v) -> np.ndarray:
    """(face, u, v) -> (..., 3) un-normalized direction vectors; all
    zeros for a face outside 0..5."""
    face, u, v = np.broadcast_arrays(
        np.asarray(face, dtype=np.int64),
        np.asarray(u, dtype=np.float64),
        np.asarray(v, dtype=np.float64),
    )
    ok = (face >= 0) & (face < 6)
    f = np.where(ok, face, 0)
    comps = np.stack([np.ones_like(u), u, v], axis=-1)
    # sign flips are exact, so this equals placing +-1, +-u, +-v per face
    out = np.take_along_axis(comps, _FACE_AXES[f], axis=-1) * _FACE_SIGNS[f]
    if not ok.all():
        out[~ok] = 0.0
    return out


def uv_to_st(u):
    """Quadratic projection uv->st (S2's default)."""
    u = np.asarray(u, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def st_to_uv(s):
    """Inverse quadratic projection st->uv."""
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0), (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))
    )


# ---------------------------------------------------------------------------
# Hilbert curve: (face, i, j) <-> cell id
# ---------------------------------------------------------------------------


def from_face_ij(face, i, j) -> np.ndarray:
    """Leaf cell id from face and 30-bit leaf (i, j). Vectorized."""
    face = np.asarray(face, dtype=np.uint64)
    i = np.asarray(i, dtype=np.uint64)
    j = np.asarray(j, dtype=np.uint64)
    pos = np.zeros_like(face, dtype=np.uint64)
    orient = face & _1
    bmask = U64((1 << _LOOKUP_BITS) - 1)
    for k in range(MAX_LEVEL // _LOOKUP_BITS - 1, -1, -1):
        sh = U64(k * _LOOKUP_BITS)
        ic = (i >> sh) & bmask
        jc = (j >> sh) & bmask
        v = _HILBERT_ENCODE[
            (orient << U64(2 * _LOOKUP_BITS)) | (ic << U64(_LOOKUP_BITS)) | jc
        ]
        pos = (pos << U64(2 * _LOOKUP_BITS)) | (v >> _2)
        orient = v & U64(3)
    return (face << U64(POS_BITS)) | (pos << _1) | _1


def to_face_ij_orientation(ids_u):
    """Cell id -> (face, i, j, orientation) of the id's leaf position.

    Processes all 30 position digits like S2's ToFaceIJOrientation; for
    non-leaf cells the (i, j) refer to the leaf pattern embedded in the
    id (use :func:`cellid_to_center_st` for true centers).
    """
    ids = np.asarray(ids_u, dtype=np.uint64)
    face = ids >> U64(POS_BITS)
    orient = face & _1
    i = np.zeros_like(ids)
    j = np.zeros_like(ids)
    pos = ids >> _1
    bmask = U64((1 << _LOOKUP_BITS) - 1)
    for k in range(MAX_LEVEL // _LOOKUP_BITS - 1, -1, -1):
        chunk = (pos >> U64(2 * _LOOKUP_BITS * k)) & _LOOKUP_MASK
        v = _HILBERT_DECODE[(orient << U64(2 * _LOOKUP_BITS)) | chunk]
        i = (i << U64(_LOOKUP_BITS)) | ((v >> U64(_LOOKUP_BITS + 2)) & bmask)
        j = (j << U64(_LOOKUP_BITS)) | ((v >> _2) & bmask)
        orient = v & U64(3)
    return face, i, j, orient


# ---------------------------------------------------------------------------
# basic bit ops
# ---------------------------------------------------------------------------


def lsb(ids_u) -> np.ndarray:
    ids = np.asarray(ids_u, dtype=np.uint64)
    return ids & (~ids + _1)


def level(ids_u) -> np.ndarray:
    """Level 0..30; -1 for invalid (returned as int64)."""
    ids = np.asarray(ids_u, dtype=np.uint64)
    l = lsb(ids)
    # trailing zero count of lsb == position; level = 30 - tz/2
    tz = np.zeros_like(ids, dtype=np.int64)
    x = l.copy()
    for shift, mask in ((32, U64(0xFFFFFFFF)), (16, U64(0xFFFF)), (8, U64(0xFF)), (4, U64(0xF)), (2, U64(0x3)), (1, U64(0x1))):
        zero = (x & mask) == 0
        has = x != 0
        tz = np.where(zero & has, tz + shift, tz)
        x = np.where(zero, x >> U64(shift), x)
    lev = MAX_LEVEL - (tz >> 1)
    return np.where(is_valid(ids), lev, np.int64(-1))


def is_valid(ids_u) -> np.ndarray:
    ids = np.asarray(ids_u, dtype=np.uint64)
    face_ok = (ids >> U64(POS_BITS)) < U64(6)
    lsb_ok = (lsb(ids) & U64(0x1555555555555555)) != 0
    return face_ok & lsb_ok


def parent(ids_u, lev) -> np.ndarray:
    """Parent at level ``lev`` (negative = relative to current level).

    Matches the reference contract (src/s2_cell_ops.cpp:876-902,
    test/sql/geography/cell_ops.test:199-212): level is clamped to
    0..30 after resolving relative values; a target level above the
    cell's current level yields the sentinel.
    """
    ids = np.asarray(ids_u, dtype=np.uint64)
    lev = np.asarray(lev, dtype=np.int64)
    cur = level(ids)
    target = np.clip(np.where(lev < 0, cur + lev, lev), 0, 30)
    new_lsb = _1 << (U64(2) * (U64(MAX_LEVEL) - target.astype(np.uint64)))
    out = (ids & ~(new_lsb + new_lsb - _1)) | new_lsb
    bad = (~is_valid(ids)) | (target > cur)
    return np.where(bad, SENTINEL, out)


def child(ids_u, k) -> np.ndarray:
    """k-th child (0..3); sentinel for leaves / invalid / bad k."""
    ids = np.asarray(ids_u, dtype=np.uint64)
    k = np.asarray(k, dtype=np.int64)
    old = lsb(ids)
    new_lsb = old >> _2
    out = ids - old + new_lsb + (_2 * new_lsb) * np.where(k < 0, 0, k).astype(np.uint64)
    bad = (~is_valid(ids)) | (k < 0) | (k > 3) | (old == _1)
    return np.where(bad, SENTINEL, out)


def range_min(ids_u) -> np.ndarray:
    ids = np.asarray(ids_u, dtype=np.uint64)
    return ids - (lsb(ids) - _1)


def range_max(ids_u) -> np.ndarray:
    ids = np.asarray(ids_u, dtype=np.uint64)
    return ids + (lsb(ids) - _1)


def contains(a_u, b_u) -> np.ndarray:
    a = np.asarray(a_u, dtype=np.uint64)
    b = np.asarray(b_u, dtype=np.uint64)
    ok = is_valid(a) & is_valid(b)
    return ok & (range_min(a) <= b) & (b <= range_max(a))


def intersects(a_u, b_u) -> np.ndarray:
    return contains(a_u, b_u) | contains(b_u, a_u)


# ---------------------------------------------------------------------------
# lon/lat <-> cell id
# ---------------------------------------------------------------------------


def lonlat_to_cellid(lon_deg, lat_deg) -> np.ndarray:
    """Leaf cell id (uint64); NaN inputs -> SENTINEL.

    Golden: (-64, 45) -> 0x4b59a0cd83b5de49
    (reference: test/sql/geography/cell_ops.test:171-178).
    """
    lon = np.asarray(lon_deg, dtype=np.float64)
    lat = np.asarray(lat_deg, dtype=np.float64)
    x, y, z = lonlat_to_xyz(lon, lat)
    face, u, v = xyz_to_face_uv(x, y, z)
    s, t = uv_to_st(u), uv_to_st(v)
    i = np.clip(np.floor(s * MAX_SIZE), 0, MAX_SIZE - 1)
    j = np.clip(np.floor(t * MAX_SIZE), 0, MAX_SIZE - 1)
    bad = ~(np.isfinite(lon) & np.isfinite(lat))
    i = np.where(bad, 0, i).astype(np.uint64)
    j = np.where(bad, 0, j).astype(np.uint64)
    out = from_face_ij(face, i, j)
    return np.where(bad, SENTINEL, out)


def cellid_to_center_st(ids_u):
    """(face, si, ti) of the cell center in 31-bit si/ti coordinates."""
    ids = np.asarray(ids_u, dtype=np.uint64)
    face, i, j, _ = to_face_ij_orientation(ids)
    is_leaf = (ids & _1) == _1
    # delta: 1 for leaf, else 2 if (i ^ (id >> 2)) & 1 else 0
    delta = np.where(is_leaf, _1, np.where(((i ^ (ids >> _2)) & _1) == _1, _2, U64(0)))
    return face, _2 * i + delta, _2 * j + delta


def cellid_to_lonlat(ids_u):
    """Cell center -> (lon_deg, lat_deg); invalid ids -> NaN."""
    ids = np.asarray(ids_u, dtype=np.uint64)
    face, si, ti = cellid_to_center_st(ids)
    s = si.astype(np.float64) / (2.0 * MAX_SIZE)
    t = ti.astype(np.float64) / (2.0 * MAX_SIZE)
    x, y, z = np.moveaxis(face_uv_to_xyz(face.astype(np.int64), st_to_uv(s), st_to_uv(t)), -1, 0)
    n = np.sqrt(x * x + y * y + z * z)
    lon, lat = xyz_to_lonlat(x / n, y / n, z / n)
    bad = ~is_valid(ids)
    return np.where(bad, np.nan, lon), np.where(bad, np.nan, lat)


def cellid_to_center_xyz(ids_u):
    """Cell center -> normalized unit vectors."""
    ids = np.asarray(ids_u, dtype=np.uint64)
    face, si, ti = cellid_to_center_st(ids)
    s = si.astype(np.float64) / (2.0 * MAX_SIZE)
    t = ti.astype(np.float64) / (2.0 * MAX_SIZE)
    x, y, z = np.moveaxis(face_uv_to_xyz(face.astype(np.int64), st_to_uv(s), st_to_uv(t)), -1, 0)
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


#: per-cell Hilbert tables as int64, for Cells.children
_POS_TO_IJ = POS_TO_IJ.astype(np.int64)
_POS_TO_ORIENT = POS_TO_ORIENT.astype(np.int64)
#: cell corners sit on the leaf grid lines 0..MAX_SIZE
_GRID = MAX_SIZE + 1

# ---------------------------------------------------------------------------
# cell geometry: ij squares, vertices, neighbors
# ---------------------------------------------------------------------------


class Cells:
    """A batch of cells with their leaf-scale (i, j) squares and Hilbert
    orientations, so children come from the parent's square by table
    lookup instead of a fresh id decode."""

    __slots__ = ("ids", "face", "i", "j", "size", "orient")

    def __init__(self, ids, face, i, j, size, orient):
        self.ids, self.face, self.i, self.j = ids, face, i, j
        self.size, self.orient = size, orient

    @classmethod
    def of(cls, ids) -> "Cells":
        ids = np.asarray(ids, dtype=np.uint64)
        face, i, j, orient = to_face_ij_orientation(ids)
        lev = np.clip(level(ids), 0, MAX_LEVEL)
        size = np.int64(1) << (MAX_LEVEL - lev)
        # the decode walks a non-leaf id's trailing "10 00 .." digits too,
        # and each "00" swaps the orientation: undo an odd count of them
        # (S2CellId::ToFaceIJOrientation's lsb mask)
        orient = orient.astype(np.int64) ^ (((MAX_LEVEL - lev) % 2 == 0) & (lev < MAX_LEVEL))
        lo = ~(size - 1)
        return cls(ids, face.astype(np.int64), i.astype(np.int64) & lo,
                   j.astype(np.int64) & lo, size, orient)

    def __len__(self) -> int:
        return len(self.ids)

    def take(self, idx) -> "Cells":
        return Cells(*(getattr(self, f)[idx] for f in self.__slots__))

    def children(self) -> "Cells":
        """The 4 children of every cell, in child-position order, (4n,)."""
        k = np.arange(4)
        ij = _POS_TO_IJ[self.orient[:, None], k]
        half = (self.size >> 1)[:, None]
        low = lsb(self.ids)[:, None]
        step = low >> _2
        ids = self.ids[:, None] - low + step + (step << _1) * k.astype(np.uint64)
        return Cells(
            ids.ravel(),
            np.repeat(self.face, 4),
            (self.i[:, None] + (ij >> 1) * half).ravel(),
            (self.j[:, None] + (ij & 1) * half).ravel(),
            np.repeat(half.ravel(), 4),
            (self.orient[:, None] ^ _POS_TO_ORIENT[k]).ravel(),
        )

    def corner_keys(self) -> np.ndarray:
        """(n,4) int64 (face, i, j) key of each corner, CCW from (lo, lo)."""
        i0, j0 = self.i[:, None], self.j[:, None]
        s = self.size[:, None]
        ci = np.concatenate([i0, i0 + s, i0 + s, i0], axis=1)
        cj = np.concatenate([j0, j0, j0 + s, j0 + s], axis=1)
        return (self.face[:, None] * _GRID + ci) * _GRID + cj

    def corners(self) -> np.ndarray:
        """(n,4,3) unit-vector corners, CCW from (u_lo, v_lo)."""
        n = len(self.ids)
        lo_hi = np.stack([self.i, self.i + self.size, self.j, self.j + self.size])
        u_lo, u_hi, v_lo, v_hi = st_to_uv(lo_hi / MAX_SIZE)
        us = np.stack([u_lo, u_hi, u_hi, u_lo], axis=1)
        vs = np.stack([v_lo, v_lo, v_hi, v_hi], axis=1)
        xyz = face_uv_to_xyz(np.repeat(self.face, 4), us.ravel(), vs.ravel())
        xyz /= np.linalg.norm(xyz, axis=1)[:, None]
        return xyz.reshape(n, 4, 3)


def cell_vertex_lonlat(ids_u, k):
    """k-th vertex (CCW from (u_lo, v_lo)) of the cell polygon -> lon/lat."""
    ids, k = np.broadcast_arrays(np.asarray(ids_u, dtype=np.uint64), np.asarray(k, dtype=np.int64))
    xyz = Cells.of(ids.ravel()).corners()[np.arange(ids.size), k.ravel() & 3]
    # contiguous columns: see geo.geodesy.columns
    lon, lat = xyz_to_lonlat(*np.ascontiguousarray(xyz.T))
    return lon.reshape(ids.shape), lat.reshape(ids.shape)


def edge_neighbors(ids_u):
    """The 4 edge neighbors (down, right, up, left) of a cell.

    Returns an array of shape (4, n). Follows S2's GetEdgeNeighbors
    ordering (reference behavior: src/s2_cell_ops.cpp:904-932).
    """
    ids = np.asarray(ids_u, dtype=np.uint64)
    face, i, j, _ = to_face_ij_orientation(ids)
    lev = np.clip(level(ids), 0, 30)
    size = (_1 << (U64(MAX_LEVEL) - lev.astype(np.uint64))).astype(np.int64)
    i = (np.asarray(i).astype(np.int64) & ~(size - 1))
    j = (np.asarray(j).astype(np.int64) & ~(size - 1))
    out = []
    for di, dj in ((0, -1), (1, 0), (0, 1), (-1, 0)):  # down, right, up, left
        ni = i + di * size
        nj = j + dj * size
        nid = _from_face_ij_wrap(face.astype(np.int64), ni, nj)
        out.append(parent(nid, lev))
    return np.stack(out)


def _from_face_ij_wrap(face, i, j) -> np.ndarray:
    """from_face_ij handling coordinates that fall off the face edge."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    inside = (i >= 0) & (i < MAX_SIZE) & (j >= 0) & (j < MAX_SIZE)
    # Fast path: inside the face
    res = from_face_ij(
        face.astype(np.uint64),
        np.clip(i, 0, MAX_SIZE - 1).astype(np.uint64),
        np.clip(j, 0, MAX_SIZE - 1).astype(np.uint64),
    )
    if np.all(inside):
        return res
    # Slow path: project through (u, v) on the neighboring face like
    # S2CellId::FromFaceIJWrap -- clamp to the face boundary, convert to
    # xyz, then re-derive face/uv.
    kLimit = 1.0 + 2.220446049250313e-16  # 1 + DBL_EPSILON
    scale = 1.0 / MAX_SIZE
    u = np.maximum(-kLimit, np.minimum(kLimit, scale * (2 * (i - MAX_SIZE // 2) + 1)))
    v = np.maximum(-kLimit, np.minimum(kLimit, scale * (2 * (j - MAX_SIZE // 2) + 1)))
    x, y, z = np.moveaxis(face_uv_to_xyz(face, u, v), -1, 0)
    nf, nu, nv = xyz_to_face_uv(x, y, z)
    ni = np.clip(np.floor(0.5 * (nu + 1.0) * MAX_SIZE), 0, MAX_SIZE - 1).astype(np.uint64)
    nj = np.clip(np.floor(0.5 * (nv + 1.0) * MAX_SIZE), 0, MAX_SIZE - 1).astype(np.uint64)
    wrapped = from_face_ij(nf.astype(np.uint64), ni, nj)
    return np.where(inside, res, wrapped)


# ---------------------------------------------------------------------------
# tokens and debug strings
# ---------------------------------------------------------------------------


def token_encode(ids_u) -> np.ndarray:
    """Cell id -> compact hex token ('X' for id 0)."""
    ids = np.asarray(ids_u, dtype=np.uint64).ravel()
    out = np.empty(ids.shape, dtype=object)
    for n, v in enumerate(ids.tolist()):
        if v == 0:
            out[n] = "X"
        else:
            out[n] = format(v, "016x").rstrip("0")
    return out


def token_decode(tokens) -> np.ndarray:
    """Hex token -> cell id; invalid strings -> id 0 (no error)."""
    arr = np.asarray(tokens, dtype=object).ravel()
    out = np.zeros(arr.shape, dtype=np.uint64)
    hexdigits = set("0123456789abcdefABCDEF")
    for n, t in enumerate(arr.tolist()):
        if not t or not isinstance(t, str) or t == "X" or len(t) > 16:
            continue
        # int(, 16) accepts '+'/'-'/whitespace/'0x' — S2's FromToken
        # rejects anything that is not a bare hex digit
        if not all(ch in hexdigits for ch in t):
            continue
        out[n] = U64(int(t.ljust(16, "0"), 16))
    return out


def debug_string(ids_u) -> np.ndarray:
    """Cell id -> 'face/positions' debug string ('Invalid: ...' style -> 'X')."""
    ids = np.asarray(ids_u, dtype=np.uint64).ravel()
    levs = level(ids)
    out = np.empty(ids.shape, dtype=object)
    for n, (v, lev) in enumerate(zip(ids.tolist(), levs.tolist())):
        if lev < 0:
            out[n] = "Invalid: %016x" % v
            continue
        face = v >> POS_BITS
        digits = "".join(str((v >> (2 * (MAX_LEVEL - k) + 1)) & 3) for k in range(1, lev + 1))
        out[n] = f"{face}/{digits}"
    return out


def debug_string_decode(strs) -> np.ndarray:
    """'face/positions' -> cell id; malformed -> SENTINEL."""
    arr = np.asarray(strs, dtype=object).ravel()
    out = np.full(arr.shape, SENTINEL, dtype=np.uint64)
    for n, s in enumerate(arr.tolist()):
        if not isinstance(s, str) or "/" not in s:
            continue
        face_s, _, digits = s.partition("/")
        if face_s not in {"0", "1", "2", "3", "4", "5"} or len(digits) > 30:
            continue
        if digits and set(digits) - set("0123"):
            continue
        face = int(face_s)
        v = face << POS_BITS
        lev = len(digits)
        for k, d in enumerate(digits, start=1):
            v |= int(d) << (2 * (MAX_LEVEL - k) + 1)
        v |= 1 << (2 * (MAX_LEVEL - lev))
        out[n] = U64(v)
    return out
