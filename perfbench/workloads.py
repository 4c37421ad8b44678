"""The benchmark's workloads: one user-shaped query each, run through the
package's public API, with a check of every pass's output.

A workload builds all of its inputs in ``setup``, fills code caches on
warm-up inputs that share no value with the timed ones in ``warmup``,
runs pass ``i`` in ``run`` (the timed region) and compares that pass's
output against an independent computation in ``check``. The
``*_mismatches`` functions hold the comparisons and take plain values,
so the tests can feed them corrupted results.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import inputs


class Workload:
    name = ""
    item = ""  # what one work item is
    size_note = ""  # the input size, and why it was chosen
    PASS_S = 4.0  # nominal seconds of one timed pass on the 4-core reference box

    def __init__(self, spark, work: str, seed: int, passes: int, tracer):
        self.spark, self.work, self.seed, self.passes, self.tracer = (
            spark, work, seed, passes, tracer)

    @property
    def items(self) -> int:
        raise NotImplementedError

    def path(self, *parts) -> str:
        return os.path.join(self.work, *map(str, parts))

    def join_counts(self) -> dict:
        """Candidates, matches and precision of the ``joins`` layer; 0
        for a workload that does not call it."""
        return {"joins.candidates": 0, "joins.matches": 0, "joins.precision": 0.0}

    def kernel_sample(self):
        """(lon, lat, WKT polygons) of the workload's own inputs, for the
        in-process kernel rows; None for a workload that calls no
        ``s2.*``/``geo.*`` kernel."""
        return None


def _countries():
    from duckdb_geography_spark.functions import data

    return data._countries_pdf()


# -- pip_countries ---------------------------------------------------------

def pip_mismatches(rows, expected: dict) -> list[str]:
    """``rows``: (country, count, matched point ids) per country.
    ``expected``: point id -> frozenset of countries it intersects, for
    the sampled points."""
    bad = []
    got: dict[int, set] = {pid: set() for pid in expected}
    for name, n, pids in rows:
        if n != len(pids):
            bad.append(f"{name}: count {n} != {len(pids)} matched ids")
        for p in pids:
            if p in got:
                got[p].add(name)
    for pid, want in expected.items():
        if got[pid] != set(want):
            bad.append(f"point {pid}: joined {sorted(got[pid])} != brute force {sorted(want)}")
    return bad


class PipCountries(Workload):
    name = "pip_countries"
    item = "point"
    N = 3_000
    WARM_N = 200
    WARM_PASSES = 1
    SAMPLE = 100
    LEVEL = 5
    size_note = (
        "3,000 points a pass: each query re-covers the 177-country side "
        "(~3 s on 4 cores at any point count) and 3,000 points add ~1 s of "
        "per-point covering and refine. Level 5, not spatial_join's default "
        "8, because the default fails here: the level-8 covering of the "
        "countries is 125,762 cell rows carrying 522 MiB of country blobs, "
        "and broadcasting it fails with 'Not enough memory to build and "
        "broadcast' at a 2 GB and at a 4 GB driver heap. Of the levels that "
        "run, 5 (3,359 cells, ~4 s a query) is the one whose runs fit the "
        "benchmark's time budget; level 6 (10,235 cells) is 1.4x slower.")

    @property
    def items(self) -> int:
        return self.N

    def setup(self):
        from duckdb_geography_spark.functions import data

        rows = data.s2_data_countries(self.spark).select("name", "geog").collect()
        self.country_blobs = [(r["name"], bytes(r["geog"])) for r in rows]
        self.dim = self.spark.createDataFrame(self.country_blobs, "name string, geog binary")
        for i in range(self.passes):
            self._write(inputs.TIMED, i, self.N)
        for w in range(self.WARM_PASSES):
            self._write(inputs.WARMUP, w, self.WARM_N)

    def _write(self, stream, i, n):
        t = inputs.points_table(self.seed, stream, i, n)
        inputs.write_files(t, self.path("pts", stream, i), inputs.even_files(n))

    def warmup(self):
        for w in range(self.WARM_PASSES):
            self._query(self.path("pts", inputs.WARMUP, w))

    def run(self, i):
        return self._query(self.path("pts", inputs.TIMED, i))

    def _query(self, path, predicate="intersects"):
        from pyspark.sql import functions as F

        from duckdb_geography_spark import joins
        from duckdb_geography_spark.functions import casts, cells

        tr = self.tracer
        with tr.span("read", "spark.read", "build"):
            pts = self.spark.read.parquet(path)
        with tr.span("functions.cells", "functions.cells", "build"):
            geog = casts.s2_cell_center_to_geography(cells.s2_cellfromlonlat("lon", "lat"))
            pts = pts.select("pid", geog.alias("geog"))
        with tr.span("joins.spatial_join", "joins", "build"):
            j = joins.spatial_join(pts, self.dim, predicate=predicate, level=self.LEVEL,
                                   left_key="pid", right_key="name")
        with tr.span("collect", "spark", "action"):
            if predicate != "intersects":
                return j.count()
            out = j.groupBy("name").agg(F.count("*").alias("n"),
                                        F.collect_list("pid").alias("pids")).collect()
        return [(r["name"], r["n"], list(r["pids"])) for r in out]

    def expected(self, i) -> dict:
        """Brute force over the sampled points of pass ``i``: every
        country, exact predicate, no covering prefilter."""
        from duckdb_geography_spark.geo import ops
        from duckdb_geography_spark.geo.geography import Geography
        from duckdb_geography_spark.s2 import cellmath as cm

        t = inputs.points_table(self.seed, inputs.TIMED, i, self.N)
        pick = inputs.rng(self.seed, 2, i).choice(self.N, self.SAMPLE, replace=False)
        lon = t["lon"].to_numpy()[pick]
        lat = t["lat"].to_numpy()[pick]
        pid = t["pid"].to_numpy()[pick]
        countries = self._decoded()
        out = {}
        for p, c in zip(pid.tolist(), cm.lonlat_to_cellid(lon, lat).tolist()):
            pt = Geography.cell_center(np.uint64(c))
            out[p] = frozenset(n for n, g in countries if ops.intersects(pt, g))
        return out

    def _decoded(self):
        from duckdb_geography_spark.geo.geography import Geography

        if not hasattr(self, "_dec"):
            self._dec = [(n, Geography.decode(b)) for n, b in self.country_blobs]
        return self._dec

    def check(self, i, out) -> list[str]:
        if i == 0:
            self.matches0 = sum(n for _, n, _ in out)
        return pip_mismatches(out, self.expected(i))

    def join_counts(self) -> dict:
        """Candidates (covering matches, before the exact refine) and
        matches of pass 0."""
        cand = self._query(self.path("pts", inputs.TIMED, 0), predicate="mayintersect")
        match = self.matches0
        return {"joins.candidates": cand, "joins.matches": match,
                "joins.precision": match / cand if cand else 0.0}

    def kernel_sample(self):
        t = inputs.points_table(self.seed, inputs.TIMED, 0, self.N)
        return t["lon"].to_numpy(), t["lat"].to_numpy(), list(_countries()["geog_wkt"])


# -- geog_ingest ------------------------------------------------------------

#: relative tolerance of the area check: polar rotation keeps area, and
#: the worst error seen over random rotations is 4e-14
AREA_RTOL = 1e-9


def ingest_mismatches(n_expected: int, written: int, n_rows: int, n_invalid: int,
                      area: float, area_expected: float) -> list[str]:
    bad = []
    if written != n_expected:
        bad.append(f"wrote {written} rows, expected {n_expected}")
    if n_rows != n_expected:
        bad.append(f"read back {n_rows} rows, expected {n_expected}")
    if n_invalid:
        bad.append(f"{n_invalid} geographies fail s2_is_valid")
    if not abs(area - area_expected) <= AREA_RTOL * abs(area_expected):
        bad.append(f"area sum {area!r} != unrotated source sum {area_expected!r}")
    return bad


class GeogIngest(Workload):
    name = "geog_ingest"
    item = "polygon"
    WARM_EVERY = 3
    size_note = (
        "89 polygons a pass: every other bundled country in vertex-count "
        "order (so heavy and light ones alike), each rotated by its own "
        "seeded offset. Every seed carries the same vertex load in the "
        "same file, so heavy polygons straggle alike on every run, while no "
        "WKT text repeats. Warm-up uses every third of the other countries.")

    @property
    def items(self) -> int:
        return len(self.timed_src)

    def setup(self):
        from duckdb_geography_spark.geo import geography, ops

        wkts = list(_countries()["geog_wkt"])
        self.shapes = [inputs.RotatableWkt(w) for w in wkts]
        self.src_area = np.array([ops.area(geography.from_wkt(w)) for w in wkts])
        by_size = np.argsort([-s.vertices for s in self.shapes], kind="stable")
        self.timed_src = np.sort(by_size[0::2])
        self.warm_src = np.sort(by_size[1::2][::self.WARM_EVERY])
        for i in range(self.passes):
            self._write(inputs.TIMED, i, self.timed_src)
        self._write(inputs.WARMUP, 0, self.warm_src)

    def _write(self, stream, i, src):
        t = inputs.polygons_table(self.shapes, src, self.seed, stream, i)
        weights = np.array([self.shapes[s].vertices for s in src], dtype=float)
        inputs.write_files(t, self.path("wkt", stream, i), inputs.balanced_files(weights))

    def warmup(self):
        self._query(inputs.WARMUP, 0)

    def run(self, i):
        return self._query(inputs.TIMED, i)

    def _query(self, stream, i):
        from pyspark.sql import functions as F

        from duckdb_geography_spark import geoarrow
        from duckdb_geography_spark.functions import accessors, io

        tr = self.tracer
        out_dir = self.path("geoparquet", stream, i)
        with tr.span("read", "spark.read", "build"):
            df = self.spark.read.parquet(self.path("wkt", stream, i))
        with tr.span("functions.io", "functions.io", "build"):
            df = df.select("gid", io.s2_geogfromtext("wkt").alias("geog"))
        with tr.span("geoarrow.write", "geoarrow.write", "action"):
            receipts = geoarrow.write_geoparquet_dir(df, out_dir)
        with tr.span("geoarrow.read", "geoarrow.read", "build"):
            back = geoarrow.read_geoparquet_dir(self.spark, out_dir)
        with tr.span("collect", "spark", "action"):
            row = back.agg(F.count("*").alias("n"),
                           F.sum(accessors.s2_area("geog")).alias("area")).collect()[0]
        return out_dir, sum(n for _, n in receipts), row["n"], row["area"]

    def check(self, i, out) -> list[str]:
        """Row count, validity and area of the written files, read with
        pyarrow: each geography must pass ``s2_is_valid``'s predicate
        (``validation_error`` is None) and the area sum must match the
        unrotated source countries, since polar rotation keeps area."""
        import pyarrow.parquet as pq

        from duckdb_geography_spark.geo import geography

        out_dir, written, n, area = out
        in_files, invalid = 0, 0
        for f in sorted(os.listdir(out_dir)):
            if f.startswith("part-"):
                for wkb in pq.read_table(os.path.join(out_dir, f), columns=["geog"])["geog"]:
                    g = geography.from_wkb(wkb.as_py(), validate=False)
                    invalid += geography.validation_error(g) is not None
                    in_files += 1
        want = float(self.src_area[self.timed_src].sum())
        bad = ingest_mismatches(self.items, written, n, invalid, area, want)
        if in_files != self.items:
            bad.append(f"{in_files} rows in the written files, expected {self.items}")
        return bad

    def kernel_sample(self):
        t = inputs.polygons_table(self.shapes, self.timed_src, self.seed, inputs.TIMED, 0)
        wkts = t["wkt"].to_pylist()
        pts = np.concatenate([inputs.wkt_vertices(w) for w in wkts])
        return pts[:, 0], pts[:, 1], wkts


# -- gate_suite -------------------------------------------------------------

#: the gates whose builders and actions the benchmark times, in run order
GATES = ("rrf_hybrid", "simhash_suite", "kmeans_clusters", "bm25_retrieval", "ngram_nll",
         "knn_join", "token_budget_gate", "minhash_lsh_candidates")


def _norm_frame(df):
    """Columns by name, floats rounded to 9 decimals, rows sorted: the
    form in which a gate's output and its oracle's must be equal."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64).round(9)
        elif np.issubdtype(df[c].dtype, np.integer) or df[c].dtype == bool:
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def gate_mismatches(got: dict, want: dict) -> list[str]:
    """``got``/``want``: gate name -> pandas frame (Spark's / DuckDB's)."""
    bad = []
    for name in sorted(want):
        if name not in got:
            bad.append(f"{name}: no output")
            continue
        g, w = _norm_frame(got[name]), _norm_frame(want[name])
        if list(g.columns) != list(w.columns):
            bad.append(f"{name}: columns {list(g.columns)} != oracle {list(w.columns)}")
        elif len(g) != len(w):
            bad.append(f"{name}: {len(g)} rows != oracle {len(w)}")
        elif not g.equals(w):
            bad.append(f"{name}: values differ from the oracle")
    return bad


class GateSuite(Workload):
    name = "gate_suite"
    item = "gate"
    PASS_S = 12.0
    SIZES = dict(documents=500, embeddings=500, customer=1500, supplier=100)
    WARM_SIZES = dict(documents=100, embeddings=100, customer=300, supplier=40)
    size_note = (
        "8 gates a pass over seeded tables shaped like the repository's "
        "sf0.01 test tables (500 documents, 500 embeddings, 1,500 customers, "
        "100 suppliers): a pass takes ~12 s on 4 cores, mostly per-job and "
        "driver-side build cost, which is what this workload is for. Warm-up "
        "is one pass over tables a fifth that size: the first pass of a "
        "session takes ~25 s whatever the size. The pass after it is still "
        "~20% slower than later ones, but a second warm-up pass (~12 s) "
        "does not fit the run budget.")

    @property
    def items(self) -> int:
        return len(GATES)

    def setup(self):
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        for i in range(self.passes):
            inputs.write_gate_tables(self.path("gates", inputs.TIMED, i), self.seed,
                                     inputs.TIMED, i, self.SIZES)
        inputs.write_gate_tables(self.path("gates", inputs.WARMUP, 0), self.seed,
                                 inputs.WARMUP, 0, self.WARM_SIZES)

    def warmup(self):
        self._query(self.path("gates", inputs.WARMUP, 0))

    def run(self, i):
        return self._query(self.path("gates", inputs.TIMED, i))

    def _query(self, sf_dir):
        # every pass reads its own directory, so the driver-side caches
        # keyed by it (_T_CACHE, _QVEC_CACHE, _ROWS_CACHE) start empty
        tr = self.tracer
        out = {}
        for g in GATES:
            with tr.span(f"gate.{g}.build", f"gate.{g}", "build"):
                df = self.queries[g](self.spark, sf_dir)
            with tr.span(f"gate.{g}.action", f"gate.{g}", "action"):
                out[g] = df.toPandas()
        return sf_dir, out

    def check(self, i, out) -> list[str]:
        """Each gate's output equals its DuckDB oracle
        (``__spark_entry__.oracle_sql_builders``) over the same tables."""
        import duckdb

        import __spark_entry__

        sf_dir, got = out
        con = duckdb.connect()
        for t in inputs.GATE_TABLES:
            con.sql(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
        # the k-means oracle replays the fit on the tables of this directory
        old = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
        try:
            builders = __spark_entry__.oracle_sql_builders()
            want = {g: con.sql(builders[g]()).df() for g in GATES}
        finally:
            if old is None:
                del os.environ["SPARK_GRAFT_ORACLE_SF_DIR"]
            else:
                os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = old
            con.close()
        return gate_mismatches(got, want)


WORKLOADS = {w.name: w for w in (PipCountries, GeogIngest, GateSuite)}


# -- in-process kernel rows (traced runs) ------------------------------------

KERNEL_METRICS = (
    "s2.cellmath.lonlat_to_cellid_ns", "s2.coverer.dim_cover_s", "s2.coverer.point_cover_us",
    "s2.coverer.adaptive_cover_ms", "geo.geography.from_wkt_ms", "geo.geography.encode_ms",
    "geo.geography.decode_us", "geo.ops.intersects_us", "geo.ops.area_us",
)
#: polygons of the workload's inputs the kernel rows are timed on
KERNEL_POLYGONS = 24


def kernel_rows(lon: np.ndarray, lat: np.ndarray, wkts: list[str], seed: int) -> dict:
    """Per-call cost of the s2.* and geo.* kernels, timed in this process
    on a seeded sample of the workload's own inputs; fixed-level
    coverings use ``pip_countries``' join level."""
    from duckdb_geography_spark.geo import geography, ops
    from duckdb_geography_spark.geo.geography import Geography
    from duckdb_geography_spark.s2 import cellmath as cm
    from duckdb_geography_spark.s2 import coverer

    g = inputs.rng(seed, 3, 0)
    pick = g.choice(len(wkts), min(KERNEL_POLYGONS, len(wkts)), replace=False)
    level = PipCountries.LEVEL
    polys = [wkts[k] for k in pick]
    lon, lat = lon[:20_000], lat[:20_000]

    def per_call(fn, n, reps=3):
        best = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            best.append((time.perf_counter() - t) / n)
        return float(np.median(best))

    out = {"s2.cellmath.lonlat_to_cellid_ns":
           per_call(lambda: cm.lonlat_to_cellid(lon, lat), len(lon)) * 1e9}
    cids = cm.lonlat_to_cellid(lon[:2000], lat[:2000]).tolist()
    pts = [Geography.cell_center(np.uint64(c)) for c in cids]
    out["s2.coverer.point_cover_us"] = per_call(
        lambda: [coverer.covering_of_geography(p, fixed_level=level) for p in pts], len(pts)) * 1e6
    out["geo.geography.from_wkt_ms"] = per_call(
        lambda: [geography.from_wkt(w) for w in polys], len(polys)) * 1e3
    fresh = [geography.from_wkt(w) for w in polys]
    t = time.perf_counter()
    for p in fresh:
        coverer.covering_of_geography(p, fixed_level=level)
    out["s2.coverer.dim_cover_s"] = time.perf_counter() - t
    fresh = [geography.from_wkt(w) for w in polys]
    out["s2.coverer.adaptive_cover_ms"] = per_call(
        lambda: [coverer.covering_of_geography(p) for p in fresh], len(fresh), reps=1) * 1e3
    fresh = [geography.from_wkt(w) for w in polys]  # encode caches the covering on the object
    t = time.perf_counter()
    blobs = [p.encode() for p in fresh]
    out["geo.geography.encode_ms"] = (time.perf_counter() - t) / len(fresh) * 1e3
    out["geo.geography.decode_us"] = per_call(
        lambda: [Geography.decode(b) for b in blobs], len(blobs)) * 1e6
    decoded = [Geography.decode(b) for b in blobs]
    probe = pts[:200]
    out["geo.ops.intersects_us"] = per_call(
        lambda: [ops.intersects(p, q) for p in probe for q in decoded],
        len(probe) * len(decoded), reps=1) * 1e6
    out["geo.ops.area_us"] = per_call(lambda: [ops.area(q) for q in decoded], len(decoded)) * 1e6
    return out
