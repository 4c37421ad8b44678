"""Spatial join recipes — the Spark-native physical strategies
(SURVEY.md S4.3).

The reference can only express a spatial join as a nested-loop
predicate join (README.md:14-19 runs ``ON s2_intersects(...)`` as a
blockwise NL join). On Spark at 100 TB that shape is fatal, so this
module restructures every spatial join as a **covering equi-join**:

    explode(covering(geog, level)) on both sides
      -> shuffle hash join on the cell id           (equi-join!)
      -> dropDuplicates on the pair keys
      -> exact predicate refine (Arrow-batched UDF)

A small dimension side is instead collected once, covered once per
application (driver-side cache), and probed from one pandas UDF on the
big side that finds, refines and returns each row's matches; see
:func:`covering_join`.

Properties at scale: the join is a plain equi-join (AQE can re-plan
it, skew-split it, or broadcast the small side); the refine UDF only
sees candidate pairs (covering prefilter parity with the reference's
CoveringMayIntersect, src/s2_binary_index_ops.cpp:450-461); the
point side of containment joins uses pure-Column cell parents (zero
Python).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import warnings
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from .functions import cells as C
from .functions import predicates as P
from .functions.bounds import _cell_centers, _fixed_level_cells, s2_covering_fixed_level
from .functions.io import s2_prepare, s2_unprepare
from .functions import geoudfs as U
from .s2 import cellmath as cm
from .s2.coverer import covering_of_encoded
from .geo import geodesy as gd
from .geo import ops

__all__ = [
    "covering_join",
    "covering_range_join",
    "cell_containment_join",
    "distance_join",
    "knn_join",
    "broadcast_spatial_join",
    "spatial_join",
    "level_for_radius_meters",
    "lint_spatial_joins",
    "SpatialJoinLintWarning",
]

_PREDICATES = {
    "intersects": P.s2_intersects,
    "contains": P.s2_contains,
    # equal geographies always share covering cells, so the covering
    # candidates are a superset and the exact refine is sound
    "equals": P.s2_equals,
    "mayintersect": None,  # covering overlap only, no refine
}


def level_for_radius_meters(meters: float) -> int:
    """Coarsest S2 level whose cells are at least ~2x the radius wide
    (so a buffered covering stays small)."""
    if meters <= 0:
        return 30
    radians = meters / gd.EARTH_RADIUS_METERS
    # average cell edge at level L is ~ 0.85 / 2^L radians
    lev = int(math.floor(math.log2(0.85 / max(radians, 1e-12)))) - 1
    return max(0, min(30, lev))


#: row cap for honoring a caller's ``broadcast_right`` hint. A forced
#: ``F.broadcast`` bypasses Spark's autoBroadcastJoinThreshold entirely,
#: so a hint on a side that turns out to be a DATA table (not a dim)
#: becomes an executor OOM at some scale factor. 100k base rows — the
#: exploded covering multiplies that by ~1-8 cells/row — keeps the
#: broadcast in the tens of MB for typical geography rows.
BROADCAST_RIGHT_MAX_ROWS = 100_000


def _warn_fallback(what: str, cap: int, stacklevel: int) -> None:
    warnings.warn(
        f"{what}: broadcast_right requested but the right side has "
        f"> {cap} rows; falling back to a shuffle equi-join (a forced "
        f"broadcast of a data-sized table risks executor OOM)",
        stacklevel=stacklevel + 1,
    )


def _guarded_broadcast(
    exploded: DataFrame, base: DataFrame, what: str, max_rows: int = 0
) -> DataFrame:
    """Honor a broadcast request only after a BOUNDED size probe
    (``limit(n+1).count()`` — a bounded scan at any table size, the
    knn_join pattern at :func:`knn_join`). Probes the UN-exploded
    frame so the probe never pays the covering UDF. Over the cap, the
    join falls back to the two-sided cell equi-join (shuffle hash /
    sort-merge) with a warning instead of OOMing an executor."""
    cap = int(max_rows) or BROADCAST_RIGHT_MAX_ROWS
    n = base.limit(cap + 1).count()
    if n <= cap:
        return F.broadcast(exploded)
    _warn_fallback(what, cap, stacklevel=3)
    return exploded


def _rename_right(left_cols, right: DataFrame, right_geog: str, left_geog: str,
                  rk: Optional[str] = None):
    """The output rename contract: the right geography becomes
    ``<right_geog>_r`` when it shares the left's name, and every other
    right column whose name the left also has gains ``_r``. Returns
    the renamed frame and the new names of the geography and ``rk``."""
    rgeog_out = right_geog if right_geog != left_geog else right_geog + "_r"
    r_renamed = right.withColumnRenamed(right_geog, rgeog_out)
    for col in set(left_cols) & set(r_renamed.columns):
        r_renamed = r_renamed.withColumnRenamed(col, col + "_r")
        if rk == col:
            rk = col + "_r"
        if rgeog_out == col:
            rgeog_out = col + "_r"
    return r_renamed, rgeog_out, rk


def _collect_dim(right: DataFrame, cap: int):
    """ONE job: ``limit(cap+1)`` collected as Arrow, the side's
    partitions computed in parallel tasks (the limit then moves the
    rows through a single-partition exchange). Returns ``(n, table)``:
    ``n`` counts at most ``cap + 1`` rows, and ``table`` is the right
    side, or None over the cap. Every column of up to ``cap + 1`` rows
    is computed and reaches the driver, so call it only on a side
    believed to fit."""
    got = right.limit(cap + 1).toArrow()
    return got.num_rows, (got if got.num_rows <= cap else None)


#: semantic hashes of right sides a probe found within the broadcast
#: cap (at most 1,024 plans). A later probe of the same plan collects
#: it at once, so a dimension shared by repeated queries costs one job.
_dim_fits = U.ByteBudgetLRU(1024 * 64, lambda _: 64)


def _probe_dim(right: DataFrame, cap: int, upto: int = 0, small: int = -1):
    """The right side's size and, when it fits ``cap``, its rows.
    Returns ``(n, table)``: ``n`` counts at most ``max(cap, upto) + 1``
    rows, and ``table`` is the right side as an Arrow table, or None
    when ``n`` is over ``cap`` or at most ``small`` (a side so small
    its caller wants the count only).

    Nothing reaches the driver before a count says it fits: a
    column-pruned ``limit().count()`` runs first, so an over-cap side
    never has its columns (geography UDFs included) computed. A plan
    that fit before skips the count and is collected in one job;
    should it have outgrown the cap since, the count runs after all.
    After a count, the side is collected without a limit (and so
    without the limit's exchange): the count already bounds it."""
    key = right.semanticHash()
    if _dim_fits.get(key):
        n, dim = _collect_dim(right, cap)
        if dim is not None:
            return n, dim
        _dim_fits.discard(key)
    n = right.limit(max(cap, upto) + 1).count()
    if n > cap or n <= small:
        return n, None
    dim = right.toArrow()
    if dim.num_rows > cap:  # grew between the count and the collect
        return dim.num_rows, None
    _dim_fits.put(key, True)
    return dim.num_rows, dim


def _dim_key(value, level: int):
    """Cache key of one dimension geography: the level and a 160-bit
    BLAKE2b digest of its value (bytes, or a cell id / cell union)."""
    raw = value if isinstance(value, bytes) else repr(value).encode()
    return level, hashlib.blake2b(raw, digest_size=20).digest()


def _dim_coverings(spark, geog: pa.ChunkedArray, gtype, level: int) -> list:
    """Level-``level`` covering (int64 cell ids) of every dimension row,
    from the application's :data:`~.functions.geoudfs.dim_coverings`
    cache. The values the cache lacks are covered together in ONE
    parallel job, one task per group of values: largest value first,
    dealt round-robin, so each task gets a like share of the vertices.
    NULL rows cover to nothing."""
    vals = geog.to_pylist()
    out = [np.empty(0, dtype=np.int64)] * len(vals)
    todo: dict = {}
    for i, v in enumerate(vals):
        if v is None:
            continue
        key = _dim_key(v, level)
        cells = U.dim_coverings.get(key)
        if cells is None:
            todo.setdefault(key, []).append(i)
        else:
            out[i] = cells
    if not todo:
        return out
    keys = list(todo)
    par = min(len(keys), spark.sparkContext.defaultParallelism)
    size = [len(vals[todo[k][0]]) if isinstance(vals[todo[k][0]], bytes) else 0 for k in keys]
    groups = [[] for _ in range(par)]
    for s, j in enumerate(sorted(range(len(keys)), key=lambda j: -size[j])):
        groups[s % par].append((j, vals[todo[keys[j]][0]]))
    # one group per partition: parallelize slices a list of ``par``
    # items one to a slice, and flatMap keeps the partitions
    rdd = spark.sparkContext.parallelize(groups, par).flatMap(lambda g: g)
    schema = StructType([StructField("__k", LongType()), StructField("__g", gtype)])
    res = (
        spark.createDataFrame(rdd, schema)
        .select("__k", s2_covering_fixed_level("__g", level).alias("__c"))
        .toArrow()
    )
    for j, cells in zip(res["__k"].to_pylist(), res["__c"].to_pylist()):
        arr = np.asarray(cells, dtype=np.int64)
        U.dim_coverings.put(keys[j], arr)
        for i in todo[keys[j]]:
            out[i] = arr
    return out


def _dim_covering_join(
    left: DataFrame,
    right_schema: StructType,
    dim: pa.Table,
    predicate: str,
    level: int,
    left_geog: str,
    right_geog: str,
) -> DataFrame:
    """The broadcast form of :func:`covering_join` over a right side
    already collected by :func:`_probe_dim`. The right rows' coverings
    (from the application-wide cache) become a sorted ``(cell, row)``
    index that ships with one pandas UDF; per left Arrow batch, the UDF
    covers each left row at ``level``, looks its candidates up in the
    index, refines them with the exact predicate and returns the
    matching right rows as ``array<long>``. ``explode`` and one
    broadcast hash join on ``__ri`` against the right rows (one row
    each) bring the right columns back. Everything before the join
    runs in the left side's stage, one task per left partition; no
    exchange and no per-cell row exists."""
    spark = left.sparkSession
    n = dim.num_rows
    ri = pa.array(np.arange(n, dtype=np.int64))
    rows = spark.createDataFrame(
        dim.add_column(0, "__ri", ri),
        StructType([StructField("__ri", LongType(), False)] + right_schema.fields),
    )
    rows, _, _ = _rename_right(left.columns, rows, right_geog, left_geog)

    geog = dim.column(right_geog)
    covs = _dim_coverings(spark, geog, right_schema[right_geog].dataType, level)
    counts = np.fromiter((len(c) for c in covs), dtype=np.int64, count=n)
    cells = np.concatenate([np.empty(0, dtype=np.int64), *covs])
    order = np.argsort(cells, kind="stable")
    owner = np.repeat(np.arange(n, dtype=np.int64), counts)[order]
    blobs = None
    if predicate != "mayintersect":
        blobs = list(U.coerce_geog(pd.Series(geog.to_pylist(), dtype=object)))
    probe = _dim_probe_udf(cells[order], owner, blobs, predicate, level)
    return (
        left.withColumn("__ri", F.explode(probe(F.col(left_geog))))
        .join(F.broadcast(rows), "__ri")
        .drop("__ri")
    )


def _dim_probe_udf(cells: np.ndarray, owner: np.ndarray, blobs, predicate: str, level: int):
    """The pandas UDF of :func:`_dim_covering_join`: left geography ->
    the sorted, distinct rows of the dimension that it matches.
    ``cells`` is the dimension's sorted level-``level`` covering cells
    and ``owner`` the row of each; ``blobs`` the rows' geographies
    (None for ``mayintersect``, which keeps every candidate)."""
    exact = None if blobs is None else getattr(ops, predicate)
    n_dim = int(owner.max(initial=0)) + 1  # pairs encode as row * n_dim + right row

    def refine(s: pd.Series, row: np.ndarray, ri: np.ndarray) -> np.ndarray:
        """The exact predicate of each candidate pair. A cell-center
        left row under ``intersects`` is refined in a batch with the
        other candidates of its right row (``ops._covers_points``);
        any other pair first meets the blob headers' covering-overlap
        reject and, past it, ``ops.<predicate>``, as in the predicate
        UDFs."""
        keep = np.zeros(len(row), dtype=bool)
        batched = np.zeros(len(row), dtype=bool)
        if exact is ops.intersects:
            centers, ids = _cell_centers(s)
            batched = np.isin(row, centers)
        if batched.any():
            xyz = np.zeros((len(s), 3))
            xyz[centers] = np.stack(cm.cellid_to_center_xyz(ids), axis=1)
            sel = np.flatnonzero(batched)
            sel = sel[np.argsort(ri[sel], kind="stable")]
            starts = np.flatnonzero(np.diff(ri[sel], prepend=-1))
            for group in np.split(sel, starts[1:]):
                g = U.decode_cached(blobs[ri[group[0]]])
                if not g.is_empty():
                    keep[group] = ops._covers_points(ops.parts_of(g), xyz[row[group]])
        pairs = np.flatnonzero(~batched)
        if len(pairs):
            _, overlap = P._batch_overlap(
                s.iloc[row[pairs]].reset_index(drop=True),
                pd.Series([blobs[i] for i in ri[pairs]], dtype=object),
            )
            for j in pairs[overlap]:
                keep[j] = exact(
                    U.decode_cached(bytes(s.iat[row[j]])), U.decode_cached(blobs[ri[j]])
                )
        return keep

    def s2_dim_probe(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype=object)
        s = U.coerce_geog(s)
        covs = _fixed_level_cells(s, level)
        lens = np.fromiter((len(c) if c else 0 for c in covs), dtype=np.int64, count=len(s))
        flat = np.fromiter(
            (c for cs in covs if cs for c in cs), dtype=np.int64, count=int(lens.sum())
        )
        lo = np.searchsorted(cells, flat, "left")
        k = np.searchsorted(cells, flat, "right") - lo
        # every (left row, right row) candidate, each pair once
        pos = np.repeat(lo - np.cumsum(k) + k, k) + np.arange(int(k.sum()))
        pair = np.unique(np.repeat(np.repeat(np.arange(len(s)), lens), k) * n_dim + owner[pos])
        row, ri = pair // n_dim, pair % n_dim
        if exact is not None and len(pair):
            keep = refine(s, row, ri)
            row, ri = row[keep], ri[keep]
        return pd.Series(np.split(ri, np.searchsorted(row, np.arange(1, len(s)))), dtype=object)

    return F.pandas_udf(s2_dim_probe, ArrayType(LongType()))


def _with_key(df: DataFrame, key: Optional[str], name: str):
    """Row key for pair-dedup inside the covering join.

    When the caller has no natural key we synthesize one with
    monotonically_increasing_id. Stability contract: the id is
    (partition, position)-based, so it is consistent WITHIN the single
    action that evaluates the join (generation and dropDuplicates run
    in the same job, and a retried task replays the same partition) —
    which is all the internal dedup needs. It is NOT stable across
    separate actions or repartitionings: callers who join the result
    to anything else, write it out incrementally, or need reproducible
    ids across runs must pass ``left_key``/``right_key`` (a real source
    key like doc_id). A content hash is not a safe substitute — equal
    rows would merge and change the output multiset."""
    if key is not None:
        return df, key, False
    return df.withColumn(name, F.monotonically_increasing_id()), name, True


def covering_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    level: int = 8,
    left_geog: str = "geog",
    right_geog: str = "geog",
    left_key: Optional[str] = None,
    right_key: Optional[str] = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """General geography-x-geography spatial join via fixed-level
    covering equi-join + exact refine.

    Returns left columns + right columns (right geog renamed
    ``<right_geog>_r`` if it collides, and any other right column the
    left also has renamed ``<name>_r``).

    ``broadcast_right=True`` declares the right side a small dimension
    table. A bounded, column-pruned count probes it, and only a side
    of at most :data:`BROADCAST_RIGHT_MAX_ROWS` rows is then collected
    to the driver in one parallel job (a side that fit before is
    collected with no count); a larger right side never has its
    columns computed, and the join falls back to the shuffle form
    below with a warning. Each right row's level-``level`` covering
    then comes from an application-wide driver cache keyed by the
    geography's bytes and the level, and the rows the cache lacks are
    covered together in one parallel job — so a dimension shared by
    many queries is covered once. The coverings become a sorted
    ``(cell, row)`` index that ships, with the right geographies, in
    one pandas UDF over the left side: per Arrow batch it covers each
    left row, looks its candidates up in the index, refines them (a
    point under ``intersects`` in one batch per right row, anything
    else pair by pair behind the geographies' header covering-overlap
    reject) and returns the matching right rows, which
    ``explode`` and a broadcast hash join on one row per right row
    turn into output rows. No exchange runs, so the join's parallelism
    is the left side's partitioning, as for every map-side UDF of this
    package. Candidates are deduplicated per left row, so with a
    unique ``left_key`` (or none) the rows are those of the shuffle
    form; neither key is used on this path, and left rows that share
    a key each keep their own matches.

    Without the hint both sides explode their coverings and meet in a
    shuffle equi-join on the cell, deduplicated on
    (``left_key``, ``right_key``).
    """
    refine = _PREDICATES[predicate]
    if broadcast_right:
        cap = BROADCAST_RIGHT_MAX_ROWS
        _, dim = _probe_dim(right, cap)
        if dim is not None:
            return _dim_covering_join(
                left, right.schema, dim, predicate, level, left_geog, right_geog
            )
        _warn_fallback("covering_join", cap, stacklevel=2)

    lk_df, lk, lk_synth = _with_key(left, left_key, "__lkey")
    rk_df, rk, rk_synth = _with_key(right, right_key, "__rkey")
    r_renamed, rgeog_out, rk = _rename_right(
        lk_df.columns, rk_df, right_geog, left_geog, rk
    )

    l_cells = lk_df.withColumn(
        "__cell", F.explode(s2_covering_fixed_level(left_geog, level))
    )
    r_cells = r_renamed.withColumn(
        "__cell", F.explode(s2_covering_fixed_level(rgeog_out, level))
    )

    pairs = l_cells.join(r_cells, "__cell").drop("__cell")
    pairs = pairs.dropDuplicates([lk, rk])
    if refine is not None:
        pairs = pairs.where(refine(F.col(left_geog), F.col(rgeog_out)))
    drop = [c for c, synth in ((lk, lk_synth), (rk, rk_synth)) if synth]
    return pairs.drop(*drop)


def _range_covering_udf(max_cells: int, coarse_level: int):
    """Adaptive (mixed-level) covering, with cells coarser than
    ``coarse_level`` split into their level-``coarse_level``
    descendants so every emitted cell has a unique coarse ancestor
    (the range join's bucket key). Bounded fan-out: a face cell
    splits into 4^coarse_level cells."""

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            if b is None:
                out.append(None)
                continue
            cells = covering_of_encoded(bytes(b), max_cells=max_cells)
            levs = cm.level(cells)
            keep = cells[levs >= coarse_level]
            emitted = [keep]
            for c, lv in zip(cells[levs < coarse_level], levs[levs < coarse_level]):
                kids = np.array([c], dtype=np.uint64)
                for _ in range(int(coarse_level - lv)):
                    kids = np.repeat(kids, 4)
                    ks = np.tile(np.arange(4), len(kids) // 4)
                    kids = cm.child(kids, ks)
                emitted.append(kids)
            allc = np.concatenate(emitted) if emitted else np.empty(0, np.uint64)
            out.append([int(v) for v in allc.view(np.int64)])
        return pd.Series(out, dtype=object)

    return _udf


def _uns_ord(col: Column) -> Column:
    """Order-preserving unsigned->signed map (XOR the sign bit): cell
    ids on faces 4-5 have the high bit set and compare wrong as signed
    longs; after the flip, signed BETWEEN implements unsigned order."""
    return col.bitwiseXOR(F.lit(-(2**63)))


def covering_range_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    left_level: int = 10,
    max_cells: int = 8,
    coarse_level: int = 4,
    left_geog: str = "geog",
    right_geog: str = "geog",
    left_key: Optional[str] = None,
    right_key: Optional[str] = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """Mixed-level covering join — the fallback when a fixed-level
    covering overflows (CoveringOverflowError: planet-scale regions
    would need millions of level-8 cells).

    The reference documents this as the range form
    (docs/function-reference.md:810-813: ``range_min/range_max``
    BETWEEN); the Spark-shaped version keeps it an EQUI-join:

    - right (the big-geometry side) takes an ADAPTIVE covering
      (``max_cells`` cells at whatever levels fit — O(1) cells per
      region no matter its size), split so every cell is at level >=
      ``coarse_level``;
    - both sides bucket on the level-``coarse_level`` ancestor (two
      covering cells can only overlap if one contains the other, and
      then they share that ancestor) — a plain shuffle-hash equi-join,
      AQE-skew-splittable, NEVER a cartesian;
    - candidates refine with the unsigned Hilbert range-overlap test
      (``range_min <= other.range_max AND ...`` — the BETWEEN form)
      as a pure Column predicate, then the exact geometry predicate.

    Put the side with huge geographies on the RIGHT; the left side
    pays a fixed-level covering at ``left_level`` (>= coarse_level).
    """
    if left_level < coarse_level:
        raise ValueError("left_level must be >= coarse_level")
    refine = _PREDICATES[predicate]

    lk_df, lk, lk_synth = _with_key(left, left_key, "__lkey")
    rk_df, rk, rk_synth = _with_key(right, right_key, "__rkey")
    r_renamed, rgeog_out, rk = _rename_right(
        lk_df.columns, rk_df, right_geog, left_geog, rk
    )

    l_cells = lk_df.withColumn(
        "__lcell", F.explode(s2_covering_fixed_level(left_geog, left_level))
    ).withColumn("__bucket", C.s2_cell_parent(F.col("__lcell"), coarse_level))
    r_cells = r_renamed.withColumn(
        "__rcell", F.explode(_range_covering_udf(max_cells, coarse_level)(F.col(rgeog_out)))
    ).withColumn("__bucket", C.s2_cell_parent(F.col("__rcell"), coarse_level))
    if broadcast_right:
        r_cells = _guarded_broadcast(r_cells, rk_df, "covering_range_join")

    lmin = _uns_ord(C.s2_cell_range_min(F.col("__lcell")))
    lmax = _uns_ord(C.s2_cell_range_max(F.col("__lcell")))
    rmin = _uns_ord(C.s2_cell_range_min(F.col("__rcell")))
    rmax = _uns_ord(C.s2_cell_range_max(F.col("__rcell")))
    pairs = (
        l_cells.join(r_cells, "__bucket")
        .where((lmin <= rmax) & (rmin <= lmax))
        .drop("__bucket", "__lcell", "__rcell")
        .dropDuplicates([lk, rk])
    )
    if refine is not None:
        pairs = pairs.where(refine(F.col(left_geog), F.col(rgeog_out)))
    drop = [c for c, synth in ((lk, lk_synth), (rk, rk_synth)) if synth]
    return pairs.drop(*drop)


def cell_containment_join(
    points: DataFrame,
    regions: DataFrame,
    point_cell: str = "cell",
    region_geog: str = "geog",
    level: int = 8,
    refine: bool = True,
    broadcast_regions: bool = False,
) -> DataFrame:
    """Point-in-region join where the point side is a LongType cell id
    column — the 100 TB shape.

    The point side never runs Python: the join key is
    ``s2_cell_parent(cell, level)``, a pure bit expression that stays
    in WholeStageCodegen. Only the (small) region side pays the
    covering UDF, and only candidate pairs pay the exact refine.
    (A separate ``s2_cell_contains`` pre-refine would be tautological
    here: both join sides are exactly level-``level`` cells, so every
    equi-join match already satisfies containment — the bit test is
    the join key itself.)
    """
    # spread the covering UDF across workers even when the region
    # table is tiny (one 25-row partition would serialize the coverer)
    par = regions.sparkSession.sparkContext.defaultParallelism
    r = regions.repartition(par).withColumn(
        "__cell", F.explode(s2_covering_fixed_level(region_geog, level))
    )
    if broadcast_regions:
        r = _guarded_broadcast(r, regions, "cell_containment_join")
    p = points.withColumn("__cell", C.s2_cell_parent(F.col(point_cell), level))
    joined = p.join(r, "__cell").drop("__cell")
    if refine:
        from .functions.casts import s2_cell_center_to_geography

        joined = joined.where(
            P.s2_intersects(
                s2_cell_center_to_geography(F.col(point_cell)), F.col(region_geog)
            )
        )
    return joined


def _buffered_covering_udf(level: int, radians: float):
    @F.pandas_udf(ArrayType(LongType()))
    def _udf(s: pd.Series) -> pd.Series:
        from .functions import geoudfs as GU
        from .s2.coverer import cap_coverings_fixed_level

        out = [None] * len(s)
        # point caps take the row-batched flood fill (cell-for-cell
        # identical to the per-row descent — equality battery in
        # tests/test_r7_regressions.py — but one vectorized pass for
        # the whole Arrow batch instead of ~6 ms of tiny-array numpy
        # dispatch per row); everything else falls back per row
        pt_idx, pt_lonlat = [], []
        for i, b in enumerate(s):
            if b is None:
                continue
            g = GU.decode_cached(bytes(b))
            pts = g.all_points()
            if (
                not g.is_empty()
                and len(pts) == 1
                and not g.all_lines()
                and not g.all_polygons()
            ):
                pt_idx.append(i)
                pt_lonlat.append(pts[0])
            else:
                cells = covering_of_encoded(
                    bytes(b), fixed_level=level, buffer_radians=radians
                )
                out[i] = [int(v) for v in cells.view(np.int64)]
        if pt_idx:
            covs = cap_coverings_fixed_level(
                np.asarray(pt_lonlat, dtype=np.float64), level, radians
            )
            for i, cells in zip(pt_idx, covs):
                out[i] = [int(v) for v in cells.view(np.int64)]
        return pd.Series(out, dtype=object)

    return _udf


def distance_join(
    left: DataFrame,
    right: DataFrame,
    meters: float,
    level: Optional[int] = None,
    left_geog: str = "geog",
    right_geog: str = "geog",
    left_key: Optional[str] = None,
    right_key: Optional[str] = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """s2_dwithin join: the right side's covering is buffered by the
    radius (cap-expanded covering, SURVEY.md S4.3), then the same
    covering equi-join + s2_dwithin refine."""
    if level is None:
        level = min(10, level_for_radius_meters(meters))
    radians = meters / gd.EARTH_RADIUS_METERS

    lk_df, lk, lk_synth = _with_key(left, left_key, "__lkey")
    rk_df, rk, rk_synth = _with_key(right, right_key, "__rkey")
    r_renamed, rgeog_out, rk = _rename_right(
        lk_df.columns, rk_df, right_geog, left_geog, rk
    )

    l_cells = lk_df.withColumn(
        "__cell", F.explode(s2_covering_fixed_level(left_geog, level))
    )
    r_cells = r_renamed.withColumn(
        "__cell", F.explode(_buffered_covering_udf(level, radians)(F.col(rgeog_out)))
    )
    if broadcast_right:
        r_cells = _guarded_broadcast(r_cells, rk_df, "distance_join")
    pairs = l_cells.join(r_cells, "__cell").drop("__cell").dropDuplicates([lk, rk])
    pairs = pairs.where(P.s2_dwithin(F.col(left_geog), F.col(rgeog_out), float(meters)))
    drop = [c for c, synth in ((lk, lk_synth), (rk, rk_synth)) if synth]
    return pairs.drop(*drop)


#: half the Earth's circumference in meters — no geodesic distance
#: exceeds it, so a radius past this makes every pair a candidate
_HALF_CIRCUMFERENCE_M = math.pi * gd.EARTH_RADIUS_METERS


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_geog: str = "geog",
    right_geog: str = "geog",
    left_key: Optional[str] = None,
    right_key: Optional[str] = None,
    initial_meters: Optional[float] = None,
    level: Optional[int] = None,
    tie_decimals: Optional[int] = None,
    sample_size: int = 512,
    tail_pairs: int = 5_000_000,
    broadcast_right_max: int = 65536,
    allpairs_right_max: int = 2048,
) -> DataFrame:
    """EXACT k-nearest-neighbors spatial join: for every left row, the
    ``k`` closest right geographies by :func:`s2_distance` (ties broken
    by the right key). Beyond-reference operator — the reference can
    only write this as a cross join + window. Output: the joined
    columns plus ``knn_distance`` (meters) and ``knn_rank`` (1..k).

    Recipe — iterative radius doubling, no cross join anywhere:
    round ``i`` runs :func:`distance_join` at radius
    ``initial_meters * 2**i`` for the still-unresolved left keys. A
    left key with >= k candidates inside the radius is FINAL: the
    distance join is exact, so every right row closer than the k-th
    candidate is already in its candidate set, and a bounded
    ``row_number`` window (shuffle on the left key) keeps the top k.
    Keys with fewer candidates retry at twice the radius, carrying
    only the unresolved slice. The loop is driver-bounded: once the
    radius exceeds half the Earth's circumference every right row is
    a candidate, so the final round accepts whatever exists (fewer
    than k only when the right table itself has fewer than k rows).

    Scale shape: each round is one covering equi-join feeding a SINGLE
    left-key exchange that does pair-dedup, candidate count and
    ranking as three window passes over the same partitioning, with
    one Arrow-batched :func:`s2_distance` pass in between — the
    separate ``s2_dwithin`` refine is gone (the computed distance IS
    the exact radius filter, since the covering join is a candidate
    superset). Typical data resolves ~all keys in round 1 and later
    rounds touch a vanishing remainder; once the remainder is small
    enough that ``remaining x right`` is a bounded candidate set
    (``tail_pairs``), the loop jumps straight to the final
    full-sphere round instead of doubling through empty rounds.

    Adaptive small-right fast path (round 8): when the right side has
    at most ``allpairs_right_max`` rows (one bounded ``limit m+1``
    probe — bounded work at ANY table size), the whole right side is
    collected and the join becomes a single ``mapInPandas`` pass over
    the left computing exact all-pairs top-k partition-locally — no
    join, no window, no shuffle; the big side streams through one
    Arrow stage (the same corpus-never-shuffles shape as
    ``embedding_knn_join``, and the optimal cluster plan for a small
    dim table). The cap is deliberately low: the fast path pays O(m)
    vectorized chord math per left row, the radius path ~O(k)
    candidates per left row, so a large right side must take the
    rounds. ``initial_meters``/``level`` are ignored on the fast path
    (it is exact by construction); set ``allpairs_right_max=0`` to
    force the radius machinery.

    Driver-action protocol (VERDICT r7 item 3): the resolved-in-round-1
    common case pays exactly three synchronized actions — the setup
    count and radius sample run as CONCURRENT jobs (one latency), the
    round's winner checkpoint, and a bounded emptiness probe of the
    unresolved anti-join (cached left vs checkpointed winner keys,
    stops at the first survivor). Left-side and per-round counts are
    only paid on the multi-round path. A right side of at most
    ``broadcast_right_max`` rows broadcasts its exploded covering, so
    the covering join plans with no exchange of its own and each
    round's single shuffle is the left-key window.

    ``initial_meters=None`` (default) derives the round-1 radius from
    the right table's MEASURED density: a deterministic md5-ordered
    sample of ``sample_size`` right rows (the ivf_training_sample
    pattern — per-partition top-m, no full sort), nearest-neighbor
    distances within the sample computed driver-side, and
    ``r = 2.0 * median_nn * sqrt(k * m / n)``. On uniform data this
    reproduces the closed-form cap radius ``~2R*sqrt(k/n)``; on
    clustered data the median sample-NN distance shrinks with the
    dominant cluster's density, so dense-area keys don't over-pair
    (the old uniform-count formula blew up candidates on skew —
    VERDICT r7 item 4). Sparse-area keys just take one retry round.

    ``tie_decimals`` optionally quantizes the ranking distance (e.g.
    3 = millimeters) so an independent engine replaying the join
    (the DuckDB oracle) ranks identically despite 1-ulp libm
    differences. To keep the output independent of the radius
    schedule, a non-final round only finalizes a key when its k-th
    quantized distance clears the round radius by half an ulp of the
    quantization (``round(kth, td) + 0.5*10^-td < r``) — otherwise a
    right row just outside the radius could round into a tie it never
    got to contest (ADVICE r7 #2). Left/right column names must not
    collide except the geography columns (the rename contract appends
    ``_r`` to right-side collisions).

    NULL right keys are safe on both paths (round 9): ranking ties
    order them first (Spark's ASC NULLS FIRST), and the radius rounds
    dedup candidate pairs on an internally synthesized unique row id,
    never the user key — so NULL-keyed (or duplicate-keyed) right
    rows are distinct candidates, not conflated ones. Rank order
    among EQUAL (distance, right_key) ties is the usual window
    nondeterminism; pass a unique right_key for a total order.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("knn_join: k must be >= 1")
    if left_key is None:
        # the resolved-key anti-join compares left keys ACROSS separate
        # Spark actions (round N's checkpoint vs round N+1's join) —
        # monotonically_increasing_id's single-action stability contract
        # (_with_key) is not enough here, so a real source key is
        # mandatory. right_key stays optional: the synthesized right id
        # only dedups/tie-breaks within one round's single action.
        raise ValueError("knn_join: left_key is required (a stable source key)")
    if initial_meters is not None and initial_meters <= 0:
        raise ValueError("knn_join: initial_meters must be positive")
    lk_df, lk, lk_synth = _with_key(left, left_key, "__lkey")
    # synthesize the right key HERE (ADVICE r7 #1 — distance_join drops
    # its own synthesized key before returning, which left the ranking
    # window with an unresolvable column): the synthesized id only has
    # to be stable within one round's single action (dedup + tiebreak),
    # which _with_key guarantees.
    rk_df, rk0, rk_synth = _with_key(right, right_key, "__rkey")

    # right-side rename contract, applied once up front
    rgeog_out = right_geog if right_geog != left_geog else right_geog + "_r"
    r_renamed = rk_df.withColumnRenamed(right_geog, rgeog_out)
    rk = rk0
    for col in sorted(set(lk_df.columns) & set(r_renamed.columns)):
        r_renamed = r_renamed.withColumnRenamed(col, col + "_r")
        if rk == col:
            rk = col + "_r"
        if rgeog_out == col:
            rgeog_out = col + "_r"

    # adaptive path choice: a right side small enough to broadcast
    # whole skips the radius machinery entirely — ONE bounded probe
    # (limit m+1 count, a bounded scan at any table size), one bounded
    # collect, then a single Arrow pass over the left computes exact
    # all-pairs top-k partition-locally. The big (left) side NEVER
    # shuffles — the optimal cluster plan for a small dim table, the
    # same shape as llm/similarity.py::embedding_knn_join. Per-left
    # cost is O(m) vectorized chord math, so the cap stays low; a
    # larger right side takes the radius-doubling rounds whose
    # per-left candidate cost is ~O(k).
    if allpairs_right_max > 0:
        # r11 note: merging this probe into one limit(m+1).collect()
        # on r_renamed was tried and MEASURED SLOWER (knn gate 1.3->2.5s,
        # order-independent A/B): the per-partition partial limits
        # evaluate the geog UDF chain on up to m+1 rows PER PARTITION
        # before the global gather, while this count probe is a
        # column-pruned scan with no UDF at all and the collect below
        # then evaluates exactly the n_small matching rows.
        n_small = right.limit(int(allpairs_right_max) + 1).count()
        if n_small <= int(allpairs_right_max):
            rrows = r_renamed.collect()
            out = _knn_broadcast_plan(
                lk_df, r_renamed, k, left_geog, rgeog_out, rk, tie_decimals, rrows
            )
            if lk_synth:
                out = out.drop(lk)
            if rk_synth:
                out = out.drop(rk)
            return out

    # pair-dedup identity for the radius rounds: the lag-based dedup
    # below must see a UNIQUE NON-NULL value per right row — the user's
    # right_key may contain NULLs (eqNullSafe would then conflate
    # distinct NULL-keyed rows AND drop the group's first row, because
    # lag's null head null-safe-equals a NULL key). When the key was
    # synthesized it already is a unique monotonic id; otherwise add
    # one, used ONLY for dedup (ranking still tiebreaks on the user
    # key, NULLS FIRST, mirroring the broadcast fast path).
    if rk_synth:
        dedup_key = rk
    else:
        dedup_key = "__rrow"
        r_renamed = r_renamed.withColumn(dedup_key, F.monotonically_increasing_id())

    if initial_meters is None:
        # the two setup actions (column-pruned right count, md5-ordered
        # radius sample) are independent — submit them as concurrent
        # Spark jobs so setup pays one round of action latency, not two
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_count = pool.submit(right.count)
            f_sample = pool.submit(
                _knn_sample_centers, right, right_geog, int(sample_size)
            )
            n_right = f_count.result()
            centers = f_sample.result()
        initial_meters = _knn_radius_from_centers(centers, k, n_right)
        if initial_meters is None:
            # degenerate sample: closed-form uniform-density cap radius
            initial_meters = min(
                max(
                    2.0
                    * 2.0
                    * gd.EARTH_RADIUS_METERS
                    * math.sqrt(float(k) / max(n_right, 1)),
                    1.0,
                ),
                _HALF_CIRCUMFERENCE_M,
            )
    else:
        # explicit radius: the right count is only needed if a
        # tail-jump decision ever comes up — count lazily then
        n_right = None

    # cache the keyed left side: every round's covering join AND the
    # anti-join re-read it, and the geography column is UDF-built
    # (filled by round 1's job — no separate warming count: the
    # resolved-everything case must pay as few driver actions as
    # possible, VERDICT r7 item 3)
    lk_df = lk_df.persist()
    remaining = lk_df
    chunks = []
    radius = float(initial_meters)
    # SPARK_GRAFT_KNN_TRACE=1: per-round radius/level/unresolved on
    # stderr — the profiling hook for tuning the initial radius
    trace = os.environ.get("SPARK_GRAFT_KNN_TRACE") == "1"
    round_no = 0
    while True:
        round_no += 1
        r_eff = min(radius, _HALF_CIRCUMFERENCE_M)
        last_round = radius >= _HALF_CIRCUMFERENCE_M
        # two levels FINER than the dwithin rule (cells ~ r/2 wide, so
        # the right covering is ~8-20 cells instead of 1-4): the knn
        # round-1 radius is wide, and at the 2x-radius level the cells
        # are face-sized — every same-face pair becomes a raw join pair.
        # Measured at sf0.1: raw pairs 258k -> 95k, round time 3.2s ->
        # 2.0s; at 100x the data the shuffle-volume ratio is what holds.
        lev = (
            level
            if level is not None
            else min(14, level_for_radius_meters(r_eff) + 2)
        )
        if trace:
            print(
                f"# knn_join round {round_no}: r={r_eff:.0f}m lev={lev}"
                f" last={last_round}",
                file=sys.stderr,
            )
        radians = r_eff / gd.EARTH_RADIUS_METERS

        l_cells = remaining.withColumn(
            "__cell", F.explode(s2_covering_fixed_level(left_geog, lev))
        )
        r_cells = r_renamed.withColumn(
            "__cell", F.explode(_buffered_covering_udf(lev, radians)(F.col(rgeog_out)))
        )
        if n_right is not None and n_right <= int(broadcast_right_max):
            # small right side (known from the setup count): broadcast
            # its exploded covering (~8-20 cells/row) so the covering
            # join needs NO exchange at all — the only shuffle left in
            # the round is the left-key window exchange below. At
            # cluster scale this is the broadcast-the-small-dim rule;
            # a large right side keeps the two-sided cell equi-join.
            r_cells = F.broadcast(r_cells)
        pairs = l_cells.join(r_cells, "__cell").drop("__cell")

        # ONE exchange on the left key serves dedup, count and rank:
        # (a) sort (lk, rk), keep first occurrence of each (lk, rk)
        #     pair (a pair reappears once per shared covering cell);
        # (b) exact distance on the deduped pairs (single Arrow pass;
        #     the distance doubles as the radius refine — the covering
        #     join is a superset of the true within-r set, so
        #     dist <= r IS the exact s2_dwithin semantics);
        # (c) rank + per-key candidate count over the same partitioning.
        w_pair = Window.partitionBy(lk).orderBy(F.col(dedup_key).asc())
        pairs = (
            pairs.withColumn(
                "__keep",
                ~F.lag(F.col(dedup_key)).over(w_pair).eqNullSafe(F.col(dedup_key)),
            )
            .where(F.col("__keep"))
            .drop("__keep")
        )
        dist = P.s2_distance(F.col(left_geog), F.col(rgeog_out))
        cand = pairs.withColumn("knn_distance", dist).where(
            F.col("knn_distance") <= F.lit(float(r_eff))
        )
        order_dist = (
            F.round(F.col("knn_distance"), int(tie_decimals))
            if tie_decimals is not None
            else F.col("knn_distance")
        )
        cand = cand.withColumn("__odist", order_dist)
        w = Window.partitionBy(lk).orderBy(F.col("__odist").asc(), F.col(rk).asc())
        wc = Window.partitionBy(lk)
        ranked = cand.withColumn("knn_rank", F.row_number().over(w)).withColumn(
            "__cnt", F.count(F.lit(1)).over(wc)
        )
        accept = F.col("knn_rank") <= int(k)
        drop_cols = ["__cnt", "__odist"]
        if not last_round:
            accept = accept & (F.col("__cnt") >= int(k))
            if tie_decimals is not None:
                # quantized-tie margin (ADVICE r7 #2): only finalize a
                # key when its k-th QUANTIZED distance clears the round
                # radius by half a quantization ulp — otherwise a right
                # row just outside r could round into a tie with the
                # k-th candidate and win the rk tiebreak in a global
                # replay despite never being a candidate this round.
                tol = 0.5 * 10.0 ** (-int(tie_decimals))
                ranked = ranked.withColumn(
                    "__kth",
                    F.max(
                        F.when(F.col("knn_rank") <= int(k), F.col("__odist"))
                    ).over(wc),
                )
                accept = accept & (
                    F.col("__kth") + F.lit(tol) < F.lit(float(r_eff))
                )
                drop_cols.append("__kth")
        done = ranked.where(accept).drop(*drop_cols)
        if last_round:
            # nothing downstream depends on this round's resolved set —
            # append lazily and let the caller's action compute it once
            chunks.append(done)
            break
        # materialize this round's winners once: the anti-join below
        # and the final union both reuse them
        done = done.localCheckpoint(eager=True)
        chunks.append(done)
        resolved = done.select(lk).distinct()
        remaining_next = remaining.join(resolved, lk, "left_anti")
        # termination: one bounded job — the anti-join probes the
        # CACHED left side (filled by this round's checkpoint job)
        # against the tiny checkpointed winner keys, stopping at the
        # first survivor. The resolved-everything fast path therefore
        # never counts the left side at all (VERDICT r7 item 3: the
        # old protocol paid an up-front left count plus a per-round
        # resolved count even when round 1 settled every key).
        if remaining_next.isEmpty():
            break
        remaining = remaining_next
        # multi-round only: size the remainder for the tail jump
        if n_right is None:
            n_right = right.count()
        n_unresolved = remaining.count()
        if trace:
            print(
                f"# knn_join round {round_no}: unresolved={n_unresolved}",
                file=sys.stderr,
            )
        if n_unresolved * max(n_right, 1) <= int(tail_pairs):
            # the whole remainder x right candidate set is bounded:
            # jump straight to the final full-sphere round instead of
            # doubling through rounds that may still come up short.
            # The last round is LAZY (computed at the caller's action,
            # after lk_df is unpersisted), so pin the tiny remainder.
            radius = _HALF_CIRCUMFERENCE_M
            remaining = remaining.localCheckpoint(eager=True)
        else:
            radius *= 2.0

    lk_df.unpersist()  # chunks are checkpointed/pinned; cache is round-local
    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    if lk_synth:
        out = out.drop(lk)
    if rk_synth:
        out = out.drop(rk)
    else:
        out = out.drop(dedup_key)
    return out


def _knn_initial_radius(
    right: DataFrame, right_geog: str, k: int, n_right: int, sample_size: int
) -> float:
    """Density-measured round-1 radius for :func:`knn_join` (VERDICT
    r7 item 4): md5-ordered sample of the right geographies (a
    TakeOrdered — per-partition top-m, no full sort), driver-side
    nearest-neighbor distance within the sample, then
    ``2.0 * median_nn * sqrt(k * m / n)``.

    Why this scales: in a locally-uniform region with n points total,
    a sample of m has NN spacing ``~2R/sqrt(m * frac)`` where frac is
    the local share of mass — so the sample's median NN distance
    tracks the DOMINANT density, and the sqrt(k*m/n) factor rescales
    from "1 neighbor among m" to "k neighbors among n". On truly
    uniform data the formula collapses to the closed-form cap radius
    ``2.0 * 2R * sqrt(k/n)``; on clustered data it comes out smaller,
    protecting the round-1 join from the dense-area candidate blow-up
    the uniform-count formula caused.
    """
    centers = _knn_sample_centers(right, right_geog, sample_size, n_right)
    r = _knn_radius_from_centers(centers, k, n_right)
    if r is not None:
        return r
    # degenerate inputs (tiny right side, undecodable sample): fall
    # back to the closed-form uniform-density cap radius
    r = 2.0 * 2.0 * gd.EARTH_RADIUS_METERS * math.sqrt(float(k) / max(n_right, 1))
    return min(max(r, 1.0), _HALF_CIRCUMFERENCE_M)


def _knn_sample_centers(
    right: DataFrame,
    right_geog: str,
    sample_size: int,
    n_right: Optional[int] = None,
) -> list:
    """The Spark-action half of the radius estimate: collect up to
    ``sample_size`` right geographies (md5-ordered TakeOrdered — a
    per-partition top-m, no full sort) and decode their centroids.
    ``n_right=None`` means the count is unknown (it may be running
    concurrently on another thread) — always take the ordered sample;
    when the whole right side fits, the limit just returns everything
    and the md5 sort cost is bounded by ``sample_size``."""
    from .geo.geography import Geography

    src = right.select(F.col(right_geog).alias("__g"))
    if n_right is None or n_right > sample_size:
        src = src.orderBy(F.md5(F.col("__g")), F.col("__g")).limit(
            int(sample_size)
        )
    # else: the whole right side IS the sample — skip the sort
    rows = src.collect()
    centers = []
    for row in rows:
        try:
            pts = Geography.decode(bytes(row["__g"])).all_points()
        except Exception:
            continue
        if len(pts):
            centers.append(pts.mean(axis=0))
    return centers


def _knn_radius_from_centers(
    centers: list, k: int, n_right: int
) -> Optional[float]:
    """The driver-side half of the radius estimate:
    ``2.0 * median_sample_NN * sqrt(k * m / n)`` over the decoded
    sample centroids; ``None`` when the sample is too degenerate to
    measure (< 2 decodable centroids)."""
    if len(centers) < 2:
        return None
    xyz = gd.lonlat_deg_to_xyz(np.asarray(centers, dtype=np.float64))
    dots = np.clip(xyz @ xyz.T, -1.0, 1.0)
    np.fill_diagonal(dots, -1.0)
    nn_ang = np.arccos(dots.max(axis=1))
    med = float(np.median(nn_ang))
    r = (
        2.0
        * med
        * gd.EARTH_RADIUS_METERS
        * math.sqrt(float(k) * len(centers) / max(n_right, 1))
    )
    return min(max(r, 1.0), _HALF_CIRCUMFERENCE_M)


def _knn_broadcast_plan(
    lk_df: DataFrame,
    r_renamed: DataFrame,
    k: int,
    left_geog: str,
    rgeog_out: str,
    rk: str,
    tie_decimals: Optional[int],
    rrows: list,
) -> DataFrame:
    """The small-right fast path of :func:`knn_join`: the collected
    right side (bounded by ``allpairs_right_max``) is captured in a
    single ``mapInPandas`` pass over the left — each left partition
    computes EXACT distances to every right row and keeps its own top
    ``k``, so there is no join, no window, and no shuffle anywhere;
    the left side streams through one Arrow stage.

    Distance semantics are the same tiers as
    ``functions.predicates._batch_distance``: both-plain-cell-center
    pairs take the vectorized chord kernel (identical elementwise ops,
    broadcast over the n x m block in bounded chunks), everything else
    (polygons, lines, cast-flag pairs — the reference's asymmetric
    both-cast golden) goes through the same per-pair
    ``geo.ops.distance`` the row UDF uses, so values are bit-identical
    to the radius path. Ranking replays the radius path's total order:
    ascending (quantized distance, right-key order); ``np.round`` vs
    Spark's HALF_UP differ only on exact decimal midpoints, which
    chord distances (asin outputs) do not produce. NULL/empty
    geographies yield no candidate pairs on either side, exactly like
    the covering join (an empty geography has no covering cells).
    """
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    from .geo.geography import KIND_CELL_CENTER

    m = len(rrows)
    out_schema = StructType(
        list(lk_df.schema.fields)
        + list(r_renamed.schema.fields)
        + [
            StructField("knn_distance", DoubleType()),
            StructField("knn_rank", IntegerType()),
        ]
    )
    if m == 0:
        return lk_df.sparkSession.createDataFrame([], out_schema)

    rsch = r_renamed.schema
    geog_idx = list(rsch.names).index(rgeog_out)
    rk_idx = list(rsch.names).index(rk)
    r_blobs: list = []
    r_ok = np.zeros(m, dtype=bool)
    r_fast = np.zeros(m, dtype=bool)
    r_cast = np.zeros(m, dtype=bool)
    r_ids = np.zeros(m, dtype=np.uint64)
    for j, row in enumerate(rrows):
        b = row[geog_idx]
        if b is None:
            r_blobs.append(None)
            continue
        b = bytes(b)
        r_blobs.append(b)
        if b[1] & 1:  # empty -> distance inf -> never a candidate
            continue
        r_ok[j] = True
        r_cast[j] = bool(b[1] & 2)
        if b[0] == KIND_CELL_CENTER and b[2:4] == b"\x01\x00":
            r_ids[j] = int.from_bytes(b[4:12], "little")
            r_fast[j] = True
    r_xyz = np.stack(cm.cellid_to_center_xyz(r_ids), axis=1)
    # the ranking window's tiebreak order over the right keys. Spark's
    # ASC default is NULLS FIRST, and pandas argsort raises TypeError
    # on an object series holding None — so NULL keys are split out
    # and placed first explicitly (stable within each group).
    rk_vals = [row[rk_idx] for row in rrows]
    null_idx = np.array([j for j, v in enumerate(rk_vals) if v is None], dtype=np.int64)
    nn_idx = np.array([j for j, v in enumerate(rk_vals) if v is not None], dtype=np.int64)
    if len(nn_idx):
        nn_sorted = nn_idx[
            pd.Series([rk_vals[j] for j in nn_idx]).argsort(kind="stable").to_numpy()
        ]
    else:
        nn_sorted = nn_idx
    order = np.concatenate([null_idx, nn_sorted])
    r_pos = np.empty(m, dtype=np.int64)
    r_pos[order] = np.arange(m)
    # right-side output payload in collected order (binary cols arrive
    # as bytearray from collect; Arrow wants bytes)
    r_payload = pd.DataFrame(
        {name: [row[i] for row in rrows] for i, name in enumerate(rsch.names)}
    )
    for name, f in zip(rsch.names, rsch.fields):
        if f.dataType.typeName() == "binary":
            r_payload[name] = r_payload[name].map(
                lambda v: None if v is None else bytes(v)
            )

    left_names = list(lk_df.schema.names)
    kk = min(int(k), m)
    td = tie_decimals

    def part(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            blobs = U.coerce_geog(pdf[left_geog])
            D = np.full((n, m), np.inf, dtype=np.float64)
            l_ok = np.zeros(n, dtype=bool)
            l_fast = np.zeros(n, dtype=bool)
            l_cast = np.zeros(n, dtype=bool)
            l_ids = np.zeros(n, dtype=np.uint64)
            l_blob: list = [None] * n
            for i in range(n):
                b = blobs.iat[i]
                if b is None:
                    continue
                b = bytes(b)
                l_blob[i] = b
                if b[1] & 1:
                    continue
                l_ok[i] = True
                l_cast[i] = bool(b[1] & 2)
                if b[0] == KIND_CELL_CENTER and b[2:4] == b"\x01\x00":
                    l_ids[i] = int.from_bytes(b[4:12], "little")
                    l_fast[i] = True
            if not l_ok.any():
                continue
            # vectorized chord block: both plain cell centers
            li = np.flatnonzero(l_ok & l_fast)
            rj = np.flatnonzero(r_ok & r_fast)
            if len(li) and len(rj):
                lx = np.stack(cm.cellid_to_center_xyz(l_ids[li]), axis=1)
                rx = r_xyz[rj]
                step = max(1, 2_000_000 // max(len(rj), 1))
                for s in range(0, len(li), step):
                    e = min(s + step, len(li))
                    ang = gd.angle(lx[s:e, None, :], rx[None, :, :])
                    D[np.ix_(li[s:e], rj)] = ang * gd.EARTH_RADIUS_METERS
                # both-FLAG_CAST pairs take the decoded path (the
                # asymmetric snap-vs-raw golden, geo/ops.py)
                if l_cast.any() and r_cast.any():
                    rjc = rj[r_cast[rj]]
                    for i in li[l_cast[li]]:
                        g1 = U.decode_cached(l_blob[i])
                        for j in rjc:
                            D[i, j] = ops.distance(
                                g1, U.decode_cached(r_blobs[j])
                            )
            # slow tiers: any pair with a non-plain-cell-center side
            rj_all = np.flatnonzero(r_ok)
            rj_slow = np.flatnonzero(r_ok & ~r_fast)
            for i in np.flatnonzero(l_ok & ~l_fast):
                g1 = U.decode_cached(l_blob[i])
                for j in rj_all:
                    D[i, j] = ops.distance(g1, U.decode_cached(r_blobs[j]))
            if len(rj_slow):
                for i in li:
                    g1 = U.decode_cached(l_blob[i])
                    for j in rj_slow:
                        D[i, j] = ops.distance(g1, U.decode_cached(r_blobs[j]))
            # rank: ascending (quantized distance, right-key order) —
            # the radius path's exact total order
            odist = np.round(D, int(td)) if td is not None else D
            sort_d = np.where(np.isfinite(D), odist, np.inf)
            keys_pos = np.broadcast_to(r_pos, (n, m))
            idx = np.lexsort((keys_pos, sort_d), axis=1)[:, :kk]
            keep = np.take_along_axis(sort_d, idx, axis=1) != np.inf
            ii, cc = np.nonzero(keep)
            if not len(ii):
                continue
            jj = idx[ii, cc]
            left_part = pdf.iloc[ii][left_names].reset_index(drop=True)
            right_part = r_payload.iloc[jj].reset_index(drop=True)
            out = pd.concat([left_part, right_part], axis=1)
            out["knn_distance"] = D[ii, jj]
            out["knn_rank"] = (cc + 1).astype("int32")
            yield out

    return lk_df.mapInPandas(part, out_schema)


def broadcast_spatial_join(
    big: DataFrame,
    small: DataFrame,
    predicate_col: Column,
    geog_col: Optional[str] = "geog",
) -> DataFrame:
    """Broadcast nested-loop spatial join for small dimension sides
    (mirrors the reference's prepared-geography pattern,
    docs/function-reference.md:1416-1433): the executor-side LRU in
    geoudfs decodes each broadcast geography once per worker.

    The small side's ``geog_col`` (default ``"geog"``, skipped when
    absent; pass ``None`` to disable) is run through
    :func:`~duckdb_geography_spark.functions.io.s2_prepare` BEFORE the
    broadcast — the serialized probe index is built once, shipped in
    the broadcast payload, and every executor probe then hits a
    prepared geography (measured 1.67s -> 1.30s on the covering
    flagship's 482-hit probe set). The join OUTPUT still carries the
    ORIGINAL (unprepared) geography bytes — restored post-join via
    ``s2_unprepare`` from the prepared payload itself, so the
    broadcast ships each geography ONCE — and downstream
    ``s2_astext``/export sees plain WKT/WKB, not the prepared index
    summary. Build ``predicate_col`` with string-based ``F.col(...)``
    references so it re-resolves against the prepared projection; a
    predicate bound to the original DataFrame's attributes
    (``small['geog']``) cannot resolve against it, and the join falls
    back to the unprepared form transparently."""
    if geog_col is not None and geog_col in small.columns:
        from pyspark.errors import AnalysisException

        prepared = small.withColumn(geog_col, s2_prepare(F.col(geog_col)))
        try:
            out = big.join(F.broadcast(prepared), predicate_col, "inner")
        except AnalysisException:
            # predicate bound to the pre-projection attributes (df-
            # bound Column): analysis can't resolve it against the
            # prepared projection — run unprepared rather than break
            # the caller. Only ANALYSIS failures fall back; runtime
            # errors surface normally.
            return big.join(F.broadcast(small), predicate_col, "inner")
        # restore the small side's geography BY POSITION: when both
        # join sides carry a column named geog_col (the default 'geog'
        # is the common case) a name-based withColumn raises
        # AMBIGUOUS_REFERENCE — rename positionally, unprepare only the
        # small side's slot, and alias the original names back
        names = out.columns
        prep_idx = len(big.columns) + prepared.columns.index(geog_col)
        tmp = out.toDF(*[f"__bsj{i}" for i in range(len(names))])
        cols = [
            (
                s2_unprepare(F.col(f"__bsj{i}")) if i == prep_idx else F.col(f"__bsj{i}")
            ).alias(nm)
            for i, nm in enumerate(names)
        ]
        return tmp.select(*cols)
    return big.join(F.broadcast(small), predicate_col, "inner")


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    level: int = 8,
    left_geog: str = "geog",
    right_geog: str = "geog",
    left_key: Optional[str] = None,
    right_key: Optional[str] = None,
    nl_rows: int = 8,
    broadcast_rows: int = 100_000,
    planet_scale_right: bool = False,
) -> DataFrame:
    """Strategy-picking spatial join — SURVEY §4.3's "auto-rewrite
    rule" expressed the way PySpark can: a driver-side planner that
    probes the right side (a bounded, column-pruned
    ``limit(n+1).count()``, then a collect to the driver only when it
    fits the broadcast cap; a side that fit before is collected in
    one job with no count) and picks the physical form:

    - right has <= ``nl_rows`` rows -> ``broadcast_spatial_join``
      (broadcast nested-loop over the exact predicate: for a handful
      of prepared geographies the per-row probe beats paying the
      covering explode of the big side's every row);
    - right fits the broadcast cap (``broadcast_rows``, at most
      :data:`BROADCAST_RIGHT_MAX_ROWS`) -> ``covering_join``'s
      broadcast form, fed the rows the probe collected: each right
      row's covering comes from the application-wide covering cache
      (misses covered in one parallel job), one pandas UDF over the
      left side finds and refines each left row's matches in the
      left side's tasks, and one row per right row is broadcast to
      join the right columns back;
    - otherwise -> plain ``covering_join`` (shuffle hash equi-join;
      AQE re-plans/skew-splits at runtime), with the broadcast
      fallback warning only when ``broadcast_rows`` allowed a
      broadcast the cap refused;
    - ``planet_scale_right=True`` (hemisphere-sized geographies whose
      fixed-level covering would overflow) -> ``covering_range_join``,
      the range_min/range_max BETWEEN form.

    The probe never reads more than ``broadcast_rows + 1`` rows. At
    100 TB the decision this makes is exactly the one a Catalyst rule
    would: equi-join shape always, broadcast when the dim side allows,
    NL only when the dim is so small the prefilter costs more than it
    saves."""
    if planet_scale_right:
        return covering_range_join(
            left,
            right,
            predicate=predicate,
            left_geog=left_geog,
            right_geog=right_geog,
            left_key=left_key,
            right_key=right_key,
        )
    cap = min(broadcast_rows, BROADCAST_RIGHT_MAX_ROWS)
    nl = nl_rows if predicate in ("intersects", "contains") else -1
    n_right, dim = _probe_dim(right, cap, upto=broadcast_rows, small=nl)
    if n_right <= nl:
        refine = _PREDICATES[predicate]
        r, rgeog_out, _ = _rename_right(left.columns, right, right_geog, left_geog)
        return broadcast_spatial_join(
            left, r, refine(F.col(left_geog), F.col(rgeog_out)), geog_col=rgeog_out
        )
    if dim is not None:
        return _dim_covering_join(
            left, right.schema, dim, predicate, level, left_geog, right_geog
        )
    if n_right <= broadcast_rows:  # the cap refused what broadcast_rows allowed
        _warn_fallback("covering_join", cap, stacklevel=2)
    return covering_join(
        left,
        right,
        predicate=predicate,
        level=level,
        left_geog=left_geog,
        right_geog=right_geog,
        left_key=left_key,
        right_key=right_key,
    )


class SpatialJoinLintWarning(UserWarning):
    """A join condition will force a nested-loop/cartesian plan over a
    geography-predicate UDF — the 100 TB footgun
    :func:`lint_spatial_joins` exists to catch."""


#: predicate UDFs whose presence in a JOIN CONDITION (not a filter)
#: forces Spark into BroadcastNestedLoopJoin / CartesianProduct
_SPATIAL_PREDICATE_NAMES = (
    "s2_intersects",
    "s2_contains",
    "s2_equals",
    "s2_mayintersect",
    "_mayintersect_udf",
    "s2_dwithin",
    "_dwithin_udf",
)


def lint_spatial_joins(df: DataFrame, warn: bool = True) -> list:
    """Walk ``df``'s analyzed logical plan and flag every join whose
    condition is a geography-predicate UDF with no equi-join
    component — the exact query the reference's README writes
    (``JOIN ... ON s2_intersects(a.geog, b.geog)``, README.md:14-19)
    and the one shape that cannot scale on Spark: the optimizer pulls
    the Python UDF out of the condition and executes an UNCONDITIONED
    nested-loop/cartesian join underneath it, O(|L|x|R|) probe pairs.

    Works on any DataFrame, including ones built through
    ``spark.sql`` — run it on the result of pasting the reference's
    SQL to get steered to :func:`spatial_join` before the job is
    submitted. Joins whose small side carries an explicit
    ``F.broadcast`` hint are NOT flagged (that is the documented
    :func:`broadcast_spatial_join` recipe — a bounded, intentional NL
    pass), and neither are the covering recipes (their join
    conditions are pure cell equality; the predicate runs in a
    post-join ``Filter``).

    Returns the list of offending condition strings; with
    ``warn=True`` (default) also emits a :class:`SpatialJoinLintWarning`
    per hit naming the fix.
    """
    import warnings

    def _walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from _walk(ch.apply(i))

    def _conjuncts(expr):
        # top-level AND components of the join condition
        if expr.getClass().getSimpleName() == "And":
            yield from _conjuncts(expr.left())
            yield from _conjuncts(expr.right())
        else:
            yield expr

    def _has_equijoin_key(cond_expr, join_node):
        """True only when some equality conjunct references attributes
        from BOTH join children — i.e. it actually becomes a hash-join
        key. `b.type = 'x'` (single-side/literal equality) pushes down
        as a filter, leaving the underlying join UNCONDITIONED, so a
        substring ' = ' test is not enough."""
        lout = join_node.left().outputSet()
        rout = join_node.right().outputSet()
        for conj in _conjuncts(cond_expr):
            if conj.getClass().getSimpleName() not in ("EqualTo", "EqualNullSafe"):
                continue
            ar, br = conj.left().references(), conj.right().references()
            if (
                not ar.intersect(lout).isEmpty()
                and not br.intersect(rout).isEmpty()
            ) or (
                not ar.intersect(rout).isEmpty()
                and not br.intersect(lout).isEmpty()
            ):
                return True
        return False

    hits = []
    analyzed = df._jdf.queryExecution().analyzed()
    for node in _walk(analyzed):
        if node.getClass().getSimpleName() != "Join":
            continue
        cond = node.condition()
        if not cond.isDefined():
            continue
        cond_str = cond.get().toString()
        if not any(f"{nm}(" in cond_str for nm in _SPATIAL_PREDICATE_NAMES):
            continue
        if _has_equijoin_key(cond.get(), node):
            # mixed condition with a real cross-side equality: that
            # component hash-joins and the predicate becomes a
            # residual filter — scalable
            continue
        children = node.children()
        if any(
            children.apply(i).getClass().getSimpleName() == "ResolvedHint"
            for i in range(children.size())
        ):
            continue  # explicit broadcast: the documented NL recipe
        hits.append(cond_str)
        if warn:
            warnings.warn(
                "join condition "
                f"`{cond_str}` has no equi-join component: Spark will "
                "execute an unconditioned nested-loop/cartesian join "
                "and evaluate the geography predicate over every row "
                "pair. Use duckdb_geography_spark.joins.spatial_join "
                "(covering equi-join; picks broadcast/shuffle/NL by "
                "dimension size) or wrap the small side in "
                "F.broadcast + broadcast_spatial_join if an NL probe "
                "is genuinely intended.",
                SpatialJoinLintWarning,
                stacklevel=2,
            )
    return hits
