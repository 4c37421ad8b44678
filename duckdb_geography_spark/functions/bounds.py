"""Coverings, bounding boxes, and the bounds aggregate
(reference: src/s2_bounds.cpp).

S2_BOX is a plain ``struct<xmin,ymin,xmax,ymax double>`` column;
xmin > xmax means the box crosses the antimeridian
(docs/function-reference.md:480-483).
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..geo import ops
from ..geo.geography import (
    FLAG_EMPTY,
    KIND_CELL_CENTER,
    KIND_MULTIPOLYGON,
    KIND_POLYGON,
    Geography,
    to_wkb,
)
from ..s2 import cellmath as cm
from ..s2.coverer import covering_of_encoded
from . import geoudfs as U

__all__ = [
    "BOX_SCHEMA",
    "s2_covering",
    "s2_covering_fixed_level",
    "s2_bounds_box",
    "s2_box",
    "s2_box_intersects",
    "s2_box_union",
    "s2_box_wkb",
    "s2_box_struct",
    "s2_bounds_box_agg",
    "bounds_box_agg_df",
]

BOX_SCHEMA = StructType(
    [
        StructField("xmin", DoubleType()),
        StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()),
        StructField("ymax", DoubleType()),
    ]
)


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


@F.pandas_udf(ArrayType(LongType()))
def _covering_udf(s: pd.Series) -> pd.Series:
    s = U.coerce_geog(s)
    out = []
    for b in s:
        if b is None:
            out.append(None)
            continue
        cells = covering_of_encoded(bytes(b))
        out.append([int(v) for v in cells.view(np.int64)])
    return pd.Series(out, dtype=object)


def s2_covering(geog) -> Column:
    """Cell covering (max 8 cells) as array<long>
    (src/s2_bounds.cpp:19-55); cell centers return their own id."""
    return _covering_udf(_c(geog))


def s2_covering_fixed_level(geog, fixed_level: int) -> Column:
    """Covering at one fixed level — the covering-join key generator
    (src/s2_bounds.cpp:57-104; level must be a constant like the
    reference enforces at :90-99)."""
    if not isinstance(fixed_level, int) or not (0 <= fixed_level <= 30):
        raise ValueError("s2_covering_fixed_level(): level must be a constant 0-30")
    lev = int(fixed_level)

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(s: pd.Series) -> pd.Series:
        return _fixed_level_cells(U.coerce_geog(s), lev)

    return _udf(_c(geog))


def _cell_centers(s: pd.Series):
    """Rows of ``s`` that are cell-center blobs (points), and their
    cell ids read from the blob header with no decode: ``(rows, ids)``
    as int64 and uint64 arrays. An empty point's id is 0 (invalid)."""
    rows, ids = [], []
    for i, b in enumerate(s):
        if b is not None and b[0] == KIND_CELL_CENTER and len(b) >= 12:
            rows.append(i)
            empty = b[1] & FLAG_EMPTY or b[2:4] == b"\0\0"
            ids.append(0 if empty else int.from_bytes(b[4:12], "little"))
    return np.array(rows, dtype=np.int64), np.array(ids, dtype=np.uint64)


def _fixed_level_cells(s: pd.Series, lev: int) -> pd.Series:
    """Fixed-level covering of each encoded geography. Cell-center
    blobs (points: the fact side of a point-in-polygon join) take one
    vectorized ``cellmath.parent`` call per batch, read straight from
    the blob header with no decode; the result equals
    ``covering_of_geography``'s cell-center case (an invalid id is
    empty, a valid one covers as its level-``lev`` ancestor)."""
    out = [None] * len(s)
    centers, ids = _cell_centers(s)
    up = cm.parent(ids, lev).view(np.int64).tolist()
    for i, ok, c in zip(centers.tolist(), cm.is_valid(ids).tolist(), up):
        out[i] = [c] if ok else []
    for i, b in enumerate(s):
        if b is not None and out[i] is None:
            cells = covering_of_encoded(bytes(b), fixed_level=lev)
            out[i] = [int(v) for v in cells.view(np.int64)]
    return pd.Series(out, dtype=object)


@F.pandas_udf(BOX_SCHEMA)
def _bounds_box_udf(s: pd.Series) -> pd.DataFrame:
    s = U.coerce_geog(s)
    rows = []
    for b in s:
        if b is None:
            rows.append((None, None, None, None))
        else:
            rows.append(ops.bounds_rect(U.decode_cached(bytes(b))))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def s2_bounds_box(geog) -> Column:
    """Lat/lng rect bound, antimeridian-aware
    (src/s2_bounds.cpp:147-202)."""
    return _bounds_box_udf(_c(geog))


def s2_box(west, south, east, north) -> Column:
    """Construct a box from 4 doubles (src/s2_bounds.cpp:494-553)."""

    def lit(v):
        return F.lit(float(v)) if not isinstance(v, (Column, str)) else _c(v)

    return F.struct(
        lit(west).cast("double").alias("xmin"),
        lit(south).cast("double").alias("ymin"),
        lit(east).cast("double").alias("xmax"),
        lit(north).cast("double").alias("ymax"),
    )


def s2_box_intersects(box1, box2) -> Column:
    """S2LatLngRect::Intersects as a pure column expression
    (src/s2_bounds.cpp:555-603) — wrap-aware, no UDF."""
    b1, b2 = _c(box1), _c(box2)
    lat_ok = (b1["ymin"] <= b2["ymax"]) & (b2["ymin"] <= b1["ymax"]) & (
        b1["ymin"] <= b1["ymax"]
    ) & (b2["ymin"] <= b2["ymax"])

    def lng_pair(a, b):
        a_inv = a["xmin"] > a["xmax"]
        b_inv = b["xmin"] > b["xmax"]
        straight = (a["xmin"] <= b["xmax"]) & (b["xmin"] <= a["xmax"])
        a_wraps = (b["xmax"] >= a["xmin"]) | (b["xmin"] <= a["xmax"])
        return (
            F.when(~a_inv & ~b_inv, straight)
            .when(a_inv & b_inv, F.lit(True))
            .when(a_inv, a_wraps)
            .otherwise((a["xmax"] >= b["xmin"]) | (a["xmin"] <= b["xmax"]))
        )

    return lat_ok & lng_pair(b1, b2)


def _s1_union(lo1, hi1, lo2, hi2):
    """S1Interval::Union in degrees (endpoints in (-180, 180])."""
    # Full interval short-circuit BEFORE endpoint normalization —
    # norm() would collapse [-180, 180] to the point interval
    # [180, 180] and silently drop full-longitude operands (the
    # Antarctica rect in the countries bounds_box_agg).
    if (lo1, hi1) == (-180.0, 180.0) or (lo2, hi2) == (-180.0, 180.0):
        return (-180.0, 180.0)

    def norm(p):
        return 180.0 if p == -180.0 else p

    lo1, hi1, lo2, hi2 = norm(lo1), norm(hi1), norm(lo2), norm(hi2)

    def contains(lo, hi, p):
        p = norm(p)
        if lo <= hi:
            return lo <= p <= hi
        return p >= lo or p <= hi

    def pos_dist(a, b):
        return (b - a) % 360.0

    if contains(lo1, hi1, lo2):
        if contains(lo1, hi1, hi2):
            if contains(lo2, hi2, lo1) and contains(lo2, hi2, hi1) and (lo1, hi1) != (lo2, hi2):
                return (-180.0, 180.0)
            return (lo1, hi1)
        return (lo1, hi2)
    if contains(lo1, hi1, hi2):
        return (lo2, hi1)
    if contains(lo2, hi2, lo1):
        return (lo2, hi2)
    dlo = pos_dist(hi2, lo1)
    dhi = pos_dist(hi1, lo2)
    if dlo < dhi:
        return (lo2, hi1)
    return (lo1, hi2)


def _rect_union(r1, r2):
    """S2LatLngRect::Union on (xmin, ymin, xmax, ymax) tuples."""
    empty1 = r1[1] > r1[3]
    empty2 = r2[1] > r2[3]
    if empty1:
        return r2
    if empty2:
        return r1
    ymin = min(r1[1], r2[1])
    ymax = max(r1[3], r2[3])
    xmin, xmax = _s1_union(r1[0], r1[2], r2[0], r2[2])
    return (xmin, ymin, xmax, ymax)


@F.pandas_udf(BOX_SCHEMA)
def _box_union_udf(b1: pd.DataFrame, b2: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for i in range(len(b1)):
        r1 = (b1["xmin"].iloc[i], b1["ymin"].iloc[i], b1["xmax"].iloc[i], b1["ymax"].iloc[i])
        r2 = (b2["xmin"].iloc[i], b2["ymin"].iloc[i], b2["xmax"].iloc[i], b2["ymax"].iloc[i])
        rows.append(_rect_union(r1, r2))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def s2_box_union(box1, box2) -> Column:
    """Smallest box containing both (wrap-aware S1Interval union,
    src/s2_bounds.cpp:605-649)."""
    return _box_union_udf(_c(box1), _c(box2))


def _box_geography(xmin, ymin, xmax, ymax) -> Geography:
    def rect(x0, x1):
        return np.array(
            [[x0, ymin], [x1, ymin], [x1, ymax], [x0, ymax]], dtype=np.float64
        )

    if xmin > xmax:  # antimeridian split (src/s2_bounds.cpp:427-436)
        return Geography(
            KIND_MULTIPOLYGON,
            polygons=[[rect(xmin, 180.0)], [rect(-180.0, xmax)]],
        )
    return Geography(KIND_POLYGON, polygons=[[rect(xmin, xmax)]])


@F.pandas_udf(BinaryType())
def _box_wkb_udf(b: pd.DataFrame) -> pd.Series:
    out = []
    for i in range(len(b)):
        xmin = b["xmin"].iloc[i]
        if xmin is None or (isinstance(xmin, float) and math.isnan(xmin)):
            out.append(None)
            continue
        out.append(
            to_wkb(
                _box_geography(
                    float(b["xmin"].iloc[i]),
                    float(b["ymin"].iloc[i]),
                    float(b["xmax"].iloc[i]),
                    float(b["ymax"].iloc[i]),
                )
            )
        )
    return pd.Series(out, dtype=object)


def s2_box_wkb(box) -> Column:
    """Box -> WKB polygon (MULTIPOLYGON when crossing the antimeridian,
    src/s2_bounds.cpp:351-453)."""
    return _box_wkb_udf(_c(box))


def s2_box_struct(box) -> Column:
    """Identity — our boxes are already plain structs
    (src/s2_bounds.cpp:455-492)."""
    return _c(box)


# ---------------------------------------------------------------------------
# aggregate
# ---------------------------------------------------------------------------


def _rect_fold(rects) -> tuple:
    """Fold _rect_union over an iterable of (xmin, ymin, xmax, ymax)
    rows; None / NaN / empty (ymin > ymax) rows are skipped."""
    rect = ops.EMPTY_RECT
    for r in rects:
        if r is None:
            continue
        xmin, ymin, xmax, ymax = r
        if ymin is None or (isinstance(ymin, float) and math.isnan(ymin)) or ymin > ymax:
            continue
        rect = _rect_union(rect, (xmin, ymin, xmax, ymax))
    return rect


@F.pandas_udf(ArrayType(DoubleType()))
def _bounds_box_agg_arr(s: pd.Series) -> list:
    # Blob-input form, kept for the SQL surface (spark.sql can't
    # compose scalar + aggregate in one registration). The Python API
    # below projects per-row boxes map-side instead — prefer it.
    s = U.coerce_geog(s)
    rect = ops.EMPTY_RECT
    for b in s:
        if b is None:
            continue
        rect = _rect_union(rect, ops.bounds_rect(U.decode_cached(bytes(b))))
    return list(rect)


@F.pandas_udf(ArrayType(DoubleType()))
def _bounds_box_agg_boxes(s: pd.Series) -> list:
    # Box-input reduce: each row is [xmin, ymin, xmax, ymax]. The
    # latitude union is a plain min/max (vectorized); the longitude
    # union is the wrap-aware S1Interval fold.
    vals = [v for v in s if v is not None and len(v) == 4]
    return list(_rect_fold(vals))


def s2_bounds_box_agg(geog) -> Column:
    """Aggregate: union of bounds over a group
    (src/s2_bounds.cpp:204-348, Update/Combine protocol at 245-341).

    Scale shape: the per-row rect is projected FIRST by the scalar
    ``s2_bounds_box`` Arrow UDF — Spark places that ArrowEvalPython
    BELOW the aggregation exchange and prunes the geography column
    from the shuffle (plan-asserted in tests/test_plans.py), so only
    4 doubles per row cross the wire, matching the reference's
    pre-reduced Update state. The union itself runs complete-mode per
    group (pandas GROUPED_AGG has no partial mode); for the
    per-partition pre-reduce that makes even that reduce-side input
    tiny, use ``bounds_box_agg_df``. Grouped aggs can't return
    structs, so the box travels as array<double> and is re-wrapped."""
    box = _bounds_box_udf(_c(geog))
    arr = _bounds_box_agg_boxes(
        F.array(box["xmin"], box["ymin"], box["xmax"], box["ymax"])
    )
    return F.struct(
        arr[0].alias("xmin"), arr[1].alias("ymin"), arr[2].alias("xmax"), arr[3].alias("ymax")
    )


def bounds_box_agg_df(df: DataFrame, geog_col: str, group_cols=None) -> DataFrame:
    """DataFrame-level bounds aggregate with the reference's
    Update/Combine shape (src/s2_bounds.cpp:245-341): per-partition
    mapInPandas pre-reduce (Update — decodes each geography once,
    keeps one 4-double rect per group per partition), then a shuffle
    of only ``partitions x groups`` tiny rows into the final
    applyInPandas merge (Combine). No geography bytes cross the
    exchange; at N input rows the shuffle payload is O(partitions x
    groups), not O(N)."""
    group_cols = list(group_cols or [])

    keys = group_cols or ["__g"]
    src = df if group_cols else df.withColumn("__g", F.lit(1))
    src = src.select(*keys, geog_col)
    fields = [StructField(c, src.schema[c].dataType) for c in keys] + list(BOX_SCHEMA)
    schema = StructType(fields)

    def update(batches):
        acc: dict = {}
        for pdf in batches:
            cols = [pdf[c] for c in keys]
            for i, b in enumerate(pdf[geog_col]):
                k = tuple(c.iloc[i] for c in cols)
                # NULL rows still register the group key (a group of
                # only NULLs aggregates to the empty rect, like the
                # reference's NULL-skipping Update)
                rect = (
                    ops.EMPTY_RECT
                    if b is None
                    else ops.bounds_rect(U.decode_cached(bytes(b)))
                )
                prev = acc.get(k)
                acc[k] = rect if prev is None else _rect_union(prev, rect)
        if acc:
            ks = list(acc)
            out = {c: [k[j] for k in ks] for j, c in enumerate(keys)}
            for j, c in enumerate(("xmin", "ymin", "xmax", "ymax")):
                out[c] = [acc[k][j] for k in ks]
            yield pd.DataFrame(out)

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        rect = _rect_fold(
            zip(pdf["xmin"], pdf["ymin"], pdf["xmax"], pdf["ymax"])
        )
        base = {c: [pdf[c].iloc[0]] for c in keys}
        base.update({"xmin": [rect[0]], "ymin": [rect[1]], "xmax": [rect[2]], "ymax": [rect[3]]})
        return pd.DataFrame(base)

    pre = src.mapInPandas(update, schema)
    out = pre.groupBy(*keys).applyInPandas(combine, schema)
    return out if group_cols else out.drop("__g")
