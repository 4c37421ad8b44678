"""The coverer's cell tests decide each cell alike in any batch.

``_GeogRegion`` classifies whole generations of cells at once, clips
the region edges each cell tests to those that reach it, and memoises
corner inside-ness. None of that may change a decision: every cell
must come out the same alone, among its siblings, shuffled into one
large batch, with its parent's clipped edges, and as an unclipped
brute-force test over every vertex, corner and edge would decide it.
"""

from __future__ import annotations

import numpy as np
import pytest

from duckdb_geography_spark.functions import data
from duckdb_geography_spark.geo import geodesy as gd
from duckdb_geography_spark.geo import geography
from duckdb_geography_spark.s2 import cellmath as cm
from duckdb_geography_spark.s2 import coverer

LEVELS = range(3, 13)
#: cells sampled per region and level (plus their siblings)
PER_LEVEL = 12
NEAR = 1e-12


def _country(name):
    pdf = data._countries_pdf()
    return geography.from_wkt(pdf["geog_wkt"][list(pdf["name"]).index(name)])


def _cell_ring(cell, reverse=False):
    lon, lat = cm.xyz_to_lonlat(*np.ascontiguousarray(cm.Cells.of(np.array([cell])).corners()[0].T))
    pts = list(zip(lon.tolist(), lat.tolist()))
    pts = pts[::-1] if reverse else pts
    return "(" + ", ".join(f"{x!r} {y!r}" for x, y in pts + pts[:1]) + ")"


def on_grid_polygon():
    """A polygon with a hole whose vertices are the corners of a level-4
    and a level-7 cell: its edges run along cell edges, so the corners
    of their descendants sit within rounding of the region's edges."""
    leaf = cm.lonlat_to_cellid(np.array([24.0]), np.array([-29.0]))
    outer, inner = (cm.parent(leaf, np.array([lev]))[0] for lev in (4, 7))
    return geography.from_wkt(f"POLYGON ({_cell_ring(outer)}, {_cell_ring(inner, True)})")


REGIONS = {
    "fiji": lambda: _country("Fiji"),
    "russia": lambda: _country("Russia"),
    "holed": lambda: _country("South Africa"),
    "on_grid": on_grid_polygon,
}


def sample_cells(region, seed):
    """(parents, children): up to PER_LEVEL parents a level of cells on
    the region's boundary (its vertices, and points along and just off
    its edges), and their children at levels 3..12, four a parent."""
    rng = np.random.default_rng(seed)
    a, b = region.edge_a, region.edge_b
    t = rng.uniform(0, 1, (len(a), 1))
    along = a + t * (b - a)
    off = along + rng.choice([-1, 1], (len(a), 1)) * NEAR * gd.cross3(a, b)
    pts = np.concatenate([region.vertex_xyz, along, off, 0.5 * (a + b)])
    ll = gd.xyz_to_lonlat_deg(pts / np.linalg.norm(pts, axis=1)[:, None])
    leaves = cm.lonlat_to_cellid(ll[:, 0], ll[:, 1])
    parents = []
    for lev in LEVELS:
        cells = np.unique(cm.parent(leaves, np.full(len(leaves), lev - 1)))
        parents.append(rng.choice(cells, min(PER_LEVEL, len(cells)), replace=False))
    parents = np.concatenate(parents).astype(np.uint64)
    kids = cm.Cells.of(parents).children().ids
    return parents, kids


def brute_force(region, cells):
    """(may, contains) with no clipping and no memo: every region vertex
    against the cell's range, every corner through the winding test,
    every (cell edge, region edge) pair through segments_cross."""
    vc = region.vertex_cells
    lo, hi = cm.range_min(cells)[:, None], cm.range_max(cells)[:, None]
    vin = np.any((lo <= vc[None, :]) & (vc[None, :] <= hi), axis=1)
    corners = cm.Cells.of(cells).corners()
    inside = np.array([[region._points_in_region(c[k : k + 1])[0] for k in range(4)] for c in corners])
    c0, c1 = corners[:, :, None, :], np.roll(corners, -1, axis=1)[:, :, None, :]
    cross = gd.segments_cross(c0, c1, region.edge_a[None, None], region.edge_b[None, None])
    cross = cross.any(axis=(1, 2))
    may = vin | inside.any(axis=1) | cross
    contains = ~vin & inside.all(axis=1) & ~cross if region.rings_xyz else np.zeros(len(cells), bool)
    return may, contains


def fresh(region):
    region._inside.clear()
    return region


@pytest.mark.parametrize("name", sorted(REGIONS))
def test_cell_decisions_do_not_depend_on_the_batch(name):
    region = coverer._GeogRegion(REGIONS[name]())
    parents, kids = sample_cells(region, seed=sorted(REGIONS).index(name))
    want_may, want_contains = brute_force(region, kids)

    alone = [fresh(region)._classify_ids(kids[k : k + 1]) for k in range(len(kids))]
    assert np.array_equal(np.array([m[0][0] for m in alone]), want_may)
    assert np.array_equal(np.array([m[1][0] for m in alone]), want_contains)

    gens = [fresh(region)._classify_ids(kids[k : k + 4]) for k in range(0, len(kids), 4)]
    assert np.array_equal(np.concatenate([g[0] for g in gens]), want_may)
    assert np.array_equal(np.concatenate([g[1] for g in gens]), want_contains)

    perm = np.random.default_rng(7).permutation(len(kids))
    may = fresh(region).may_intersect_batch(kids[perm])
    contains = region.contains_cell_batch(kids[perm])
    assert np.array_equal(may, want_may[perm])
    assert np.array_equal(contains, want_contains[perm])

    # the coverer's path: children test only the edges kept for their parent
    cells = cm.Cells.of(parents)
    _, _, kept = fresh(region)._classify(cells, *region.all_edges(len(parents)))
    may, contains, _ = region._classify(cells.children(), *coverer._child_pairs(kept))
    assert np.array_equal(may, want_may)
    assert np.array_equal(contains, want_contains)
    assert len(kept[0]) < len(parents) * len(region.edge_a)  # clipping did drop edges


@pytest.mark.parametrize("name", sorted(REGIONS))
def test_winding_does_not_depend_on_the_batch(name):
    """Edge midpoints and the sampled cells' corners: points on an edge
    wind by +-pi there, so rounding decides them, and must round alike
    alone, in one batch and shuffled."""
    region = coverer._GeogRegion(REGIONS[name]())
    _, kids = sample_cells(region, seed=sorted(REGIONS).index(name))
    mids = region.edge_a + region.edge_b
    pts = np.concatenate([mids / np.linalg.norm(mids, axis=1)[:, None],
                          cm.Cells.of(kids).corners().reshape(-1, 3)])
    want = np.array([region._points_in_region(p[None])[0] for p in pts])
    assert np.array_equal(region._points_in_region(pts), want)
    perm = np.random.default_rng(3).permutation(len(pts))
    assert np.array_equal(region._points_in_region(pts[perm]), want[perm])


def test_sample_has_corners_within_rounding_of_an_edge():
    region = coverer._GeogRegion(on_grid_polygon())
    _, kids = sample_cells(region, seed=0)
    corners = cm.Cells.of(kids).corners().reshape(-1, 1, 3)
    d = gd.point_segment_distance(corners, region.edge_a[None], region.edge_b[None]).min(axis=1)
    on_edge = (d < NEAR) & (gd.angle(corners[:, 0, None], region.vertex_xyz[None]).min(axis=1) > NEAR)
    assert on_edge.sum() >= 20


def test_children_frames_match_decoded_ids():
    rng = np.random.default_rng(11)
    leaves = cm.lonlat_to_cellid(rng.uniform(-180, 180, 400), rng.uniform(-90, 90, 400))
    for lev in range(0, 30):
        cells = cm.Cells.of(cm.parent(leaves, np.full(len(leaves), lev)))
        kids = cells.children()
        ref = cm.Cells.of(kids.ids)
        assert np.array_equal(kids.ids, cm.child(np.repeat(cells.ids, 4), np.tile(np.arange(4), len(cells))))
        for f in ("face", "i", "j", "size", "orient"):
            assert np.array_equal(getattr(kids, f), getattr(ref, f)), (lev, f)
