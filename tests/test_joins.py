"""Spatial join recipes vs the naive nested-loop ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import duckdb_geography_spark.functions as G
from duckdb_geography_spark import joins as J
from duckdb_geography_spark.functions import data as D


@pytest.fixture(scope="module")
def sample(spark):
    cities = D.s2_data_cities(spark).cache()
    countries = D.s2_data_countries(spark).cache()
    naive = (
        countries.crossJoin(
            cities.select(F.col("name").alias("city"), F.col("geog").alias("cgeog"))
        )
        .where(G.s2_intersects("geog", "cgeog"))
        .select("name", "city")
    )
    truth = {(r.name, r.city) for r in naive.collect()}
    return cities, countries, truth


def test_covering_join_matches_naive(spark, sample):
    cities, countries, truth = sample
    got = J.covering_join(
        countries,
        cities.select(F.col("name").alias("city"), F.col("geog").alias("geog")),
        predicate="intersects",
        level=7,
        left_key="name",
        right_key="city",
    ).select("name", "city")
    assert {(r.name, r.city) for r in got.collect()} == truth


def test_covering_join_broadcast(spark, sample):
    cities, countries, truth = sample
    got = J.covering_join(
        cities.select(F.col("name").alias("city"), "geog"),
        countries,
        predicate="intersects",
        level=7,
        left_key="city",
        right_key="name",
        broadcast_right=True,
    ).select("name", "city")
    assert {(r.name, r.city) for r in got.collect()} == truth


def test_cell_containment_join(spark, sample):
    cities, countries, truth = sample
    pts = cities.select(
        F.col("name").alias("city"),
        J.C.s2_cellfromlonlat(G.s2_x("geog"), G.s2_y("geog")).alias("cell"),
    )
    got = J.cell_containment_join(
        pts, countries.select("name", "geog"), level=7, broadcast_regions=True
    ).select("name", "city")
    got_set = {(r.name, r.city) for r in got.collect()}
    # cell-center containment can differ from raw-point containment only
    # within ~2cm of a border; with our synthetic data they must agree
    assert got_set == truth


def test_point_side_is_pure_column(spark, sample, tmp_path):
    cities, countries, _ = sample
    pts = cities.select(
        F.col("name").alias("city"),
        J.C.s2_cellfromlonlat(G.s2_x("geog"), G.s2_y("geog")).alias("cell"),
    )
    # materialize both sides so lineage UDFs (WKT parse) drop out
    pts = spark.createDataFrame(pts.toPandas())
    cdir = str(tmp_path / "countries")
    countries.select("name", "geog").write.mode("overwrite").parquet(cdir)
    regions = spark.read.parquet(cdir)
    joined = J.cell_containment_join(pts, regions, level=7, refine=False)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the points side must not contain a Python eval; the single
    # ArrowEvalPython allowed is the region-side covering UDF
    assert plan.count("ArrowEvalPython") <= 1


def test_distance_join(spark, sample):
    cities, _, _ = sample
    left = cities.select(F.col("name").alias("a"), "geog").limit(40)
    right = cities.select(F.col("name").alias("b"), F.col("geog").alias("geog2")).limit(40)
    naive = (
        left.crossJoin(right)
        .where(G.s2_dwithin("geog", "geog2", 2_000_000))
        .select("a", "b")
    )
    truth = {(r.a, r.b) for r in naive.collect()}
    got = J.distance_join(
        left,
        right.withColumnRenamed("geog2", "geog"),
        meters=2_000_000,
        left_key="a",
        right_key="b",
    ).select("a", "b")
    assert {(r.a, r.b) for r in got.collect()} == truth


def test_level_for_radius():
    assert J.level_for_radius_meters(2_000_000) <= 4
    assert J.level_for_radius_meters(100) >= 13
    assert J.level_for_radius_meters(0) == 30


class TestCoveringRangeJoin:
    """The CoveringOverflowError fallback: mixed-level adaptive
    covering + coarse-bucket equi-join + unsigned range refine
    (reference range form, docs/function-reference.md:810-813)."""

    HEMISPHERE = (
        "POLYGON ((-90 -75, 0 -75, 90 -75, 90 0, 90 75, 0 75, -90 75, -90 0, -90 -75))"
    )

    @pytest.fixture(scope="class")
    def overflow(self, spark):
        from duckdb_geography_spark.functions.io import s2_geogfromtext

        cities = D.s2_data_cities(spark).cache()
        regions = spark.createDataFrame(
            [("HEMI", self.HEMISPHERE), ("GERMANYISH", 
              "POLYGON ((5 47, 15 47, 15 55, 5 55, 5 47))")],
            ["rname", "wkt"],
        ).select("rname", s2_geogfromtext("wkt").alias("geog")).cache()
        naive = (
            regions.crossJoin(
                cities.select(F.col("name").alias("city"), F.col("geog").alias("cgeog"))
            )
            .where(G.s2_intersects("geog", "cgeog"))
            .select("rname", "city")
        )
        truth = {(r.rname, r.city) for r in naive.collect()}
        return cities, regions, truth

    def test_fixed_level_overflows(self, spark, overflow):
        cities, regions, _ = overflow
        import pytest as _pytest

        with _pytest.raises(Exception, match="covering_range_join"):
            J.covering_join(
                cities.select(F.col("name").alias("city"), "geog"),
                regions,
                predicate="intersects",
                level=12,
                left_key="city",
                right_key="rname",
            ).collect()

    def test_range_join_matches_naive(self, spark, overflow):
        cities, regions, truth = overflow
        got = J.covering_range_join(
            cities.select(F.col("name").alias("city"), "geog"),
            regions,
            predicate="intersects",
            left_level=10,
            max_cells=8,
            coarse_level=4,
            left_key="city",
            right_key="rname",
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert {(r.rname, r.city) for r in got.collect()} == truth

    def test_range_join_coarse_region(self, spark, overflow):
        """coarse_level above some covering-cell levels: the splitter
        must explode coarse cells into coarse_level descendants, not
        drop them."""
        cities, regions, truth = overflow
        got = J.covering_range_join(
            cities.select(F.col("name").alias("city"), "geog"),
            regions,
            predicate="intersects",
            left_level=8,
            max_cells=4,  # hemisphere covering will include level<4 cells
            coarse_level=4,
            left_key="city",
            right_key="rname",
        )
        assert {(r.rname, r.city) for r in got.collect()} == truth


def test_covering_join_skew(spark):
    """100x-scale question: what happens when every point lands in ONE
    cell (worst-case key skew)? The covering join must still be an
    equi-join (AQE skew-split eligible), produce exact results, and
    carry no cartesian shape."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.io import s2_geogfromtext

    n = 20000
    # all points inside one ~0.7deg region -> one level-4 covering cell
    pts = (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") % 100 / 1000.0 + 10.0).alias("lon"),
            (F.col("id") % 97 / 1000.0 + 10.0).alias("lat"),
        )
    )
    region = spark.createDataFrame(
        [("R", "POLYGON ((9.9 9.9, 10.2 9.9, 10.2 10.2, 9.9 10.2, 9.9 9.9))")],
        ["rname", "wkt"],
    ).select("rname", s2_geogfromtext("wkt").alias("geog"))
    joined = J.cell_containment_join(
        pts.withColumn("cell", C.s2_cellfromlonlat("lon", "lat")),
        region,
        point_cell="cell",
        region_geog="geog",
        level=4,
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # exact: every point is strictly inside the region
    assert joined.count() == n


class TestSpatialJoinPlanner:
    def test_tiny_right_uses_broadcast_nl(self, spark, sample):
        cities, countries, truth = sample
        two = countries.where(F.col("name").isin("Canada", "Chile"))
        got = J.spatial_join(
            cities.select(F.col("name").alias("city"), F.col("geog")),
            two,
            right_geog="geog",
            left_geog="geog",
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan  # chosen strategy
        pairs = {(r["name"], r["city"]) for r in got.collect()}
        want = {(n, c) for (n, c) in truth if n in ("Canada", "Chile")}
        assert pairs == want

    def test_broadcast_side_is_prepared(self, spark, sample):
        # auto-prepare default: the broadcast build side must run
        # s2_prepare BEFORE the exchange, so the shipped payload is
        # the serialized probe index (one index build total, not one
        # per probe). Plans print parent-first: the prepare UDF must
        # sit after (inside) the BroadcastExchange subtree.
        cities, countries, truth = sample
        two = countries.where(F.col("name").isin("Canada", "Chile"))
        got = J.spatial_join(
            cities.select(F.col("name").alias("city"), F.col("geog")),
            two,
            right_geog="geog",
            left_geog="geog",
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "_prepare_udf" in plan
        assert plan.index("BroadcastExchange") < plan.index("_prepare_udf")
        # results identical to the unprepared form
        raw = J.broadcast_spatial_join(
            cities.select(F.col("name").alias("city"), F.col("geog").alias("cg")),
            two,
            G.s2_intersects(F.col("cg"), F.col("geog")),
            geog_col=None,
        )
        want = {(r["name"], r["city"]) for r in raw.collect()}
        assert {(r["name"], r["city"]) for r in got.collect()} == want

    def test_medium_right_uses_covering_equi_join(self, spark, sample):
        cities, countries, truth = sample
        got = J.spatial_join(
            cities.select(F.col("name").alias("city"), F.col("geog")),
            countries,  # 177 rows > nl_rows -> covering equi-join
            left_key="city",
            right_key="name",
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        pairs = {(r["name"], r["city"]) for r in got.collect()}
        assert pairs == truth

    def test_lint_flags_naive_predicate_join(self, spark, sample):
        import warnings as _warnings

        cities, countries, _ = sample
        r = countries.select(F.col("name").alias("m"), F.col("geog").alias("geog2"))
        naive = cities.join(r, G.s2_intersects("geog", "geog2"))
        with _warnings.catch_warnings(record=True) as w:
            _warnings.simplefilter("always")
            hits = J.lint_spatial_joins(naive)
        assert len(hits) == 1 and "s2_intersects" in hits[0]
        assert any(issubclass(x.category, J.SpatialJoinLintWarning) for x in w)
        assert "spatial_join" in str(w[0].message)

    def test_lint_flags_sql_surface_join(self, spark, sample):
        from duckdb_geography_spark.functions.register import (
            register_sql_functions,
        )

        cities, countries, _ = sample
        register_sql_functions(spark)
        cities.createOrReplaceTempView("lint_cities")
        countries.select(
            F.col("name").alias("m"), F.col("geog").alias("geog2")
        ).createOrReplaceTempView("lint_countries")
        # the reference README's flagship query, pasted verbatim-style
        sqled = spark.sql(
            "SELECT * FROM lint_cities JOIN lint_countries "
            "ON s2_intersects(lint_cities.geog, lint_countries.geog2)"
        )
        assert len(J.lint_spatial_joins(sqled, warn=False)) == 1

    def test_lint_silent_on_recipe_plans(self, spark, sample):
        cities, countries, _ = sample
        # covering equi-join recipe: predicate is a post-join filter
        cov = J.covering_join(
            cities.select(F.col("name").alias("city"), "geog"),
            countries,
            left_key="city",
            right_key="name",
        )
        assert J.lint_spatial_joins(cov, warn=False) == []
        # planner (NL branch uses an explicit broadcast hint)
        two = countries.where(F.col("name").isin("Canada", "Chile"))
        sp = J.spatial_join(
            cities.select(F.col("name").alias("city"), "geog"),
            two,
            right_geog="geog",
            left_geog="geog",
        )
        assert J.lint_spatial_joins(sp, warn=False) == []
        # explicit broadcast NL: the documented intentional form
        r = two.select(F.col("name").alias("m"), F.col("geog").alias("geog2"))
        bc = cities.join(F.broadcast(r), G.s2_intersects("geog", "geog2"))
        assert J.lint_spatial_joins(bc, warn=False) == []
        # equi component present: hash join + residual filter, fine
        mixed = cities.join(
            r, (F.col("name") == F.col("m")) & G.s2_intersects("geog", "geog2")
        )
        assert J.lint_spatial_joins(mixed, warn=False) == []

    def test_prepared_broadcast_output_is_plain_geography(self, spark, sample):
        # the probe side uses the prepared index, but the join OUTPUT
        # must carry the ORIGINAL geography bytes so downstream
        # s2_astext/export sees WKT, not '<S2ShapeIndex ...>'
        cities, countries, _ = sample
        two = countries.where(F.col("name").isin("Canada", "Chile"))
        got = J.spatial_join(
            cities.select(F.col("name").alias("city"), F.col("geog")),
            two,
            right_geog="geog",
            left_geog="geog",
        )
        rgeog = [c for c in got.columns if c.startswith("geog") and c != "geog"][0]
        from duckdb_geography_spark.functions.io import s2_astext

        texts = [r["t"] for r in got.select(s2_astext(rgeog).alias("t")).collect()]
        assert texts and all(not t.startswith("<S2ShapeIndex") for t in texts)

    def test_df_bound_predicate_falls_back_unprepared(self, spark, sample):
        # a predicate built from the original DataFrame's attributes
        # cannot resolve against the prepared projection — the join
        # must fall back instead of raising
        cities, countries, truth = sample
        two = countries.where(F.col("name").isin("Canada", "Chile"))
        r = two.select(F.col("name").alias("m"), F.col("geog").alias("geog2"))
        big = cities.select(F.col("name").alias("city"), F.col("geog").alias("cg"))
        pred = G.s2_intersects(big["cg"], r["geog2"])  # df-bound refs
        got = J.broadcast_spatial_join(big, r, pred, geog_col="geog2")
        pairs = {(x["m"], x["city"]) for x in got.collect()}
        want = {(n, c) for (n, c) in truth if n in ("Canada", "Chile")}
        assert pairs == want

    def test_planet_scale_routes_to_range_join(self, spark, sample):
        from duckdb_geography_spark.functions.io import s2_geogfromtext

        cities, countries, truth = sample
        hemi = spark.createDataFrame([("hemi",)], "rname string").select(
            "rname",
            s2_geogfromtext(
                F.lit("POLYGON ((-179 -80, -1 -80, -1 80, -179 80, -179 -80))")
            ).alias("geog"),
        )
        got = J.spatial_join(
            cities.select(F.col("name").alias("city"), F.col("geog")),
            hemi,
            left_key="city",
            right_key="rname",
            planet_scale_right=True,
        )
        n = got.count()
        naive = (
            cities.crossJoin(
                hemi.select(F.col("geog").alias("hg"))
            ).where(G.s2_intersects("geog", "hg")).count()
        )
        assert n == naive > 0


class TestCoveringJoinFuzz:
    """Seeded random polygon pairs: covering_join(intersects/contains)
    must equal the brute-force double loop over the exact predicates —
    guards covering-level edge cases (cells straddling polygon edges,
    tiny vs large operands) that the curated city/country sample
    can't reach."""

    def test_matches_bruteforce_on_random_polygons(self, spark):
        import numpy as np

        from duckdb_geography_spark.functions.io import s2_geogfromtext
        from duckdb_geography_spark.geo import ops
        from duckdb_geography_spark.geo.geography import from_wkt
        from tests.test_overlay import TestRandomizedOverlaySweep as T

        rng = np.random.default_rng(477)
        wkts = []
        for _ in range(36):
            lon0 = float(rng.uniform(-150, 150))
            lat0 = float(rng.uniform(-55, 55))
            ring, _r = T._convex_wkt(rng, lon0, lat0, rmin=0.3, rmax=7.0)
            wkts.append(f"POLYGON ({ring})")
        # clustered centers so intersections actually occur
        for i in range(0, 30, 3):
            lon0 = float(rng.uniform(-150, 150))
            lat0 = float(rng.uniform(-55, 55))
            for j in (i, i + 1, i + 2):
                ring, _r = T._convex_wkt(rng, lon0, lat0, rmin=0.3, rmax=7.0)
                wkts[j] = f"POLYGON ({ring})"
        half = len(wkts) // 2
        gl = [from_wkt(w) for w in wkts[:half]]
        gr = [from_wkt(w) for w in wkts[half:]]
        truth_int = {
            (i, j)
            for i, a in enumerate(gl)
            for j, b in enumerate(gr)
            if ops.intersects(a, b)
        }
        truth_con = {
            (i, j)
            for i, a in enumerate(gl)
            for j, b in enumerate(gr)
            if ops.contains(a, b)
        }
        assert truth_int, "fuzz degenerated: no intersecting pair"

        left = spark.createDataFrame(
            list(enumerate(wkts[:half])), ["lid", "wkt"]
        ).select("lid", s2_geogfromtext("wkt").alias("geog"))
        right = spark.createDataFrame(
            list(enumerate(wkts[half:])), ["rid", "wkt"]
        ).select("rid", s2_geogfromtext("wkt").alias("geog"))
        for level in (6, 8):
            got = {
                (r["lid"], r["rid"])
                for r in J.covering_join(
                    left, right, predicate="intersects", level=level,
                    left_key="lid", right_key="rid",
                ).collect()
            }
            assert got == truth_int, (level, got ^ truth_int)
        got_c = {
            (r["lid"], r["rid"])
            for r in J.covering_join(
                left, right, predicate="contains", level=8,
                left_key="lid", right_key="rid",
            ).collect()
        }
        assert got_c == truth_con


class TestKnnJoin:
    """knn_join (round 7): exact kNN vs the brute-force cross join +
    window, including the radius-doubling retry path and the
    fewer-than-k-right-rows fallback."""

    def _truth(self, left, right, k):
        from pyspark.sql import Window

        w = Window.partitionBy("a").orderBy(F.col("d").asc(), F.col("b").asc())
        return {
            (r.a, r.b, r.rk)
            for r in left.crossJoin(right)
            .withColumn("d", G.s2_distance("geog", "geog2"))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .collect()
        }

    def test_exact_vs_bruteforce(self, spark, sample):
        cities, _, _ = sample
        left = cities.select(F.col("name").alias("a"), "geog").limit(40)
        right = cities.select(
            F.col("name").alias("b"), F.col("geog").alias("geog2")
        ).limit(40)
        truth = self._truth(left, right, 3)
        got = J.knn_join(
            left,
            right.withColumnRenamed("geog2", "geog"),
            k=3,
            left_key="a",
            right_key="b",
            # small initial radius forces several doubling rounds
            initial_meters=200_000,
            allpairs_right_max=0,  # pin the radius path (r8 fast path off)
        )
        assert {(r.a, r.b, r.knn_rank) for r in got.collect()} == truth
        # distances are the real s2_distance values
        row = got.where(F.col("knn_rank") == 1).first()
        assert row.knn_distance >= 0.0

    def test_right_smaller_than_k(self, spark, sample):
        cities, _, _ = sample
        left = cities.select(F.col("name").alias("a"), "geog").limit(5)
        right = cities.select(F.col("name").alias("b"), "geog").limit(2)
        got = J.knn_join(
            left, right, k=4, left_key="a", right_key="b",
            initial_meters=1_000, allpairs_right_max=0,
        )
        # every left key gets both right rows, ranks 1..2
        assert got.count() == 10
        assert got.agg(F.max("knn_rank")).first()[0] == 2

    def test_k_one_is_nearest_neighbor(self, spark, sample):
        cities, _, _ = sample
        left = cities.select(F.col("name").alias("a"), "geog").limit(20)
        right = cities.select(
            F.col("name").alias("b"), F.col("geog").alias("geog2")
        ).limit(40)
        truth = self._truth(left, right, 1)
        got = J.knn_join(
            left,
            right.withColumnRenamed("geog2", "geog"),
            k=1,
            left_key="a",
            right_key="b",
            initial_meters=500_000,
            allpairs_right_max=0,
        )
        assert {(r.a, r.b, r.knn_rank) for r in got.collect()} == truth

    def test_bad_args(self, spark, sample):
        import pytest as _pytest

        cities, _, _ = sample
        with _pytest.raises(ValueError, match="k must be"):
            J.knn_join(cities, cities, k=0)
        with _pytest.raises(ValueError, match="left_key is required"):
            J.knn_join(cities, cities, k=1)
        with _pytest.raises(ValueError, match="initial_meters"):
            J.knn_join(cities, cities, k=1, left_key="name", initial_meters=0)

    def test_right_key_none(self, spark, sample):
        """right_key=None (the documented default) must work: the key
        is synthesized inside knn_join and retained through
        distance_join for the ranking window, then dropped from the
        output (ADVICE r7 #1 — this path used to raise
        AnalysisException because distance_join dropped its own
        synthesized __rkey before the window could order by it)."""
        cities, _, _ = sample
        left = cities.select(F.col("name").alias("a"), "geog").limit(15)
        right = cities.select(
            F.col("name").alias("b"), F.col("geog").alias("geog2")
        ).limit(30)
        got = J.knn_join(
            left,
            right.withColumnRenamed("geog2", "geog"),
            k=2,
            left_key="a",
            initial_meters=300_000,  # forces at least one retry round
            allpairs_right_max=0,
        )
        rows = got.collect()
        assert "__rkey" not in got.columns and "__rkey_r" not in got.columns
        # per-key set of (neighbor, distance) matches the brute force —
        # rank order among distance ties is tiebroken by the synthetic
        # key, so compare the distance multiset per left key instead
        truth = self._truth(left, right, 2)
        truth_pairs = {(a, b) for a, b, _ in truth}
        assert {(r.a, r.b) for r in rows} == truth_pairs
        assert all(1 <= r.knn_rank <= 2 for r in rows)

    def test_clustered_density_radius(self, spark):
        """Skew regression (VERDICT r7 item 4): on a right side that is
        90% one tight cluster, the old uniform-density formula
        (1.5 * 2R * sqrt(k/n), derived from the COUNT alone) yields a
        round-1 radius that pairs every in-cluster left key with the
        whole cluster (~900 candidates for k=3). The sampled-NN radius
        must come out far smaller — bounding round-1 candidates — while
        the join stays exact."""
        import math

        from duckdb_geography_spark.functions import cells as C
        from duckdb_geography_spark.functions.casts import (
            s2_cell_center_to_geography,
        )
        from duckdb_geography_spark.geo import geodesy as gd

        # 900 points inside ~2 km at (10, 45); 100 spread over the globe
        rows = []
        for i in range(900):
            rows.append((i, 10.0 + (i % 30) * 0.0005, 45.0 + (i // 30) * 0.0005))
        for i in range(100):
            rows.append((900 + i, -170.0 + i * 3.4, -80.0 + (i * 1.6) % 160))
        pts = spark.createDataFrame(rows, "id long, lon double, lat double")
        geog = s2_cell_center_to_geography(
            C.s2_cellfromlonlat(F.col("lon"), F.col("lat"))
        )
        right = pts.select("id", geog.alias("geog"))
        n = 1000
        uniform_r = 1.5 * 2.0 * gd.EARTH_RADIUS_METERS * math.sqrt(3.0 / n)
        sampled_r = J._knn_initial_radius(right, "geog", 3, n, 512)
        # the sampled radius must undercut the uniform one by a lot —
        # the cluster's NN spacing is ~50 m, so the sampled estimate
        # lands in the tens-of-km while uniform is ~1000 km
        assert sampled_r < 0.25 * uniform_r, (sampled_r, uniform_r)
        # and round-1 candidates per in-cluster key stay bounded: the
        # sampled radius catches at most the cluster, never forces the
        # all-pairs blow-up (900 * 900); exactness still holds
        left = right.where(F.col("id") < 25).select(
            F.col("id").alias("a"), "geog"
        )
        truth = self._truth(
            left,
            right.select(F.col("id").alias("b"), F.col("geog").alias("geog2")),
            3,
        )
        got = J.knn_join(
            right.where(F.col("id") < 25).select(F.col("id").alias("a"), "geog"),
            right.select(F.col("id").alias("b"), "geog"),
            k=3,
            left_key="a",
            right_key="b",
            allpairs_right_max=0,
        )
        assert {(r.a, r.b, r.knn_rank) for r in got.collect()} == truth

    def test_polygon_left_side(self, spark, sample):
        """kNN works for polygon left sides (countries kNN cities):
        distance_join buffers the point right side (the batched cap
        covering) and the exact refine uses the r7 vectorized
        polygon-point kernels."""
        cities, countries, _ = sample
        left = countries.select(F.col("name").alias("a"), "geog").limit(12)
        right = cities.select(
            F.col("name").alias("b"), F.col("geog").alias("geog2")
        ).limit(60)
        truth = self._truth(left, right, 2)
        got = J.knn_join(
            left,
            right.withColumnRenamed("geog2", "geog"),
            k=2,
            left_key="a",
            right_key="b",
            initial_meters=400_000,
            allpairs_right_max=0,
        )
        assert {(r.a, r.b, r.knn_rank) for r in got.collect()} == truth

    def test_broadcast_path_matches_radius_path(self, spark, sample):
        """The r8 small-right fast path (collected right + one
        mapInPandas all-pairs pass, no join/window/shuffle) must be
        ROW-IDENTICAL to the radius-doubling path on the same inputs —
        points and polygons, with and without tie quantization."""
        cities, countries, _ = sample
        left_pts = cities.select(F.col("name").alias("a"), "geog").limit(40)
        right_pts = cities.select(F.col("name").alias("b"), "geog").limit(25)
        for td in (None, 3):
            fast = J.knn_join(
                left_pts, right_pts, k=3, left_key="a", right_key="b",
                tie_decimals=td,
            )
            slow = J.knn_join(
                left_pts, right_pts, k=3, left_key="a", right_key="b",
                tie_decimals=td, allpairs_right_max=0,
            )
            assert fast.columns == slow.columns
            key = lambda r: (r.a, r.knn_rank, r.b, round(r.knn_distance, 6))
            assert sorted(map(key, fast.collect())) == sorted(
                map(key, slow.collect())
            )
        # polygon left x point right drives the slow (decoded) tier
        left_poly = countries.select(F.col("name").alias("a"), "geog").limit(8)
        fast = J.knn_join(
            left_poly, right_pts, k=2, left_key="a", right_key="b"
        )
        slow = J.knn_join(
            left_poly, right_pts, k=2, left_key="a", right_key="b",
            allpairs_right_max=0,
        )
        key = lambda r: (r.a, r.knn_rank, r.b, round(r.knn_distance, 6))
        assert sorted(map(key, fast.collect())) == sorted(
            map(key, slow.collect())
        )

    def test_broadcast_path_shape_and_edges(self, spark, sample):
        """Fast-path specifics: no join/exchange in the plan, right
        side smaller than k, empty right side, NULL left geography."""
        cities, _, _ = sample
        # filters, not limits: a global limit plans its own
        # SinglePartition exchange that would mask the assertion
        left = cities.where(F.length("name") <= 5).select(
            F.col("name").alias("a"), "geog"
        )
        right = cities.where(F.col("name").startswith("San")).select(
            F.col("name").alias("b"), "geog"
        )
        n_l, n_r = left.count(), right.count()
        assert 0 < n_r <= 8 and n_l > 0
        got = J.knn_join(left, right, k=max(5, n_r + 2), left_key="a", right_key="b")
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan
        rows = got.collect()
        assert len(rows) == n_l * n_r  # k > n_r: every pair, ranks 1..n_r
        assert max(r.knn_rank for r in rows) == n_r
        # NULL left geography emits nothing for that key
        left_null = left.withColumn(
            "geog", F.when(F.col("a") == rows[0].a, None).otherwise(F.col("geog"))
        )
        got2 = J.knn_join(left_null, right, k=2, left_key="a", right_key="b")
        assert {r.a for r in got2.collect()} == {
            r.a for r in rows if r.a != rows[0].a
        }
        # empty right side -> empty result, full schema intact
        empty_right = right.where(F.lit(False))
        got3 = J.knn_join(left, empty_right, k=2, left_key="a", right_key="b")
        assert got3.count() == 0
        assert "knn_rank" in got3.columns and "knn_distance" in got3.columns


# ---------------------------------------------------------------------------
# covering_join's broadcast form: the dimension is collected by one probe,
# covered once per application, and broadcast as (row, cell) longs
# ---------------------------------------------------------------------------

DIM_COUNTRIES = (
    "Chile", "Italy", "Japan", "Egypt", "Fiji", "Norway",
    "Madagascar", "New Zealand", "Peru", "Germany", "France", "Mexico",
)


@pytest.fixture(scope="module")
def dim_sample(spark):
    """A few bundled countries (more than spatial_join's nl_rows, so it
    takes the covering join) as a driver-built frame like a cached
    dimension, and 600 seeded points: half inside the countries'
    bounding boxes, half uniform on the sphere."""
    import numpy as np

    from duckdb_geography_spark.functions import casts, cells
    from duckdb_geography_spark.geo import ops
    from duckdb_geography_spark.geo.geography import Geography

    rows = (
        D.s2_data_countries(spark)
        .where(F.col("name").isin(*DIM_COUNTRIES))
        .select("name", "geog")
        .collect()
    )
    blobs = [(r["name"], bytes(r["geog"])) for r in rows]
    assert len(blobs) == len(DIM_COUNTRIES)
    dim = spark.createDataFrame(blobs, "name string, geog binary")
    decoded = [(n, Geography.decode(b)) for n, b in blobs]

    rng = np.random.default_rng(20261018)
    lon, lat = [], []
    for _, g in decoded:
        xmin, ymin, xmax, ymax = ops.bounds_rect(g)
        span = (xmax - xmin) % 360.0 or 360.0
        lon.append((xmin + rng.uniform(0, span, 25) + 180.0) % 360.0 - 180.0)
        lat.append(rng.uniform(ymin, ymax, 25))
    n_uni = 600 - 25 * len(decoded)
    lon.append(rng.uniform(-180.0, 180.0, n_uni))
    lat.append(np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n_uni))))
    lon, lat = np.concatenate(lon), np.concatenate(lat)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "pid long, lon double, lat double",
    ).select(
        "pid",
        casts.s2_cell_center_to_geography(cells.s2_cellfromlonlat("lon", "lat")).alias("geog"),
    )
    from duckdb_geography_spark.s2 import cellmath as cm

    truth = set()
    for pid, c in enumerate(cm.lonlat_to_cellid(lon, lat).tolist()):
        pt = Geography.cell_center(np.uint64(c))
        truth |= {(pid, n) for n, g in decoded if ops.intersects(pt, g)}
    assert len(truth) > 100
    return pts, dim, truth


def _plan_nodes(df):
    """Every node of the executed physical plan, through adaptive
    wrappers and query stages."""
    return _subtree(df._jdf.queryExecution().executedPlan())


def _subtree(plan):
    """``plan`` and every node below it, through adaptive wrappers and
    query stages."""
    stack, out = [plan], []
    while stack:
        p = stack.pop()
        out.append(p)
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _broadcasts(df):
    """(output columns as {name: type}, python-eval inside?) of each
    BroadcastExchange of the executed plan."""
    out = []
    for node in _plan_nodes(df):
        if node.getClass().getSimpleName() != "BroadcastExchangeExec":
            continue
        attrs = node.output()
        cols = {
            attrs.apply(i).name(): attrs.apply(i).dataType().typeName()
            for i in range(attrs.size())
        }
        out.append((cols, "EvalPython" in node.toString()))
    return out


def test_dim_join_level8_matches_brute_force(spark, dim_sample):
    pts, dim, truth = dim_sample
    got = J.spatial_join(pts, dim, left_key="pid", right_key="name")
    assert got.columns == ["pid", "geog", "name", "geog_r"]
    rows = got.select("pid", "name").collect()
    assert len(rows) == len(truth)  # one row per matching pair
    assert {(r["pid"], r["name"]) for r in rows} == truth
    # the same without any key: the pair dedup uses internal row ids
    nokey = J.spatial_join(pts, dim).select("pid", "name").collect()
    assert sorted(map(tuple, nokey)) == sorted(map(tuple, rows))


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _rows_out(node) -> int:
    return node.metrics().apply("numOutputRows").value()


def test_dim_join_plan_has_one_stage_and_no_cell_rows(spark, dim_sample):
    """The broadcast form runs in the left side's stage: one pandas UDF
    finds and refines each left row's matches, an explode emits one row
    per match, and one broadcast hash join brings the right columns
    back from a broadcast of one row per dimension row."""
    pts, dim, truth = dim_sample
    got = J.spatial_join(pts, dim, left_key="pid", right_key="name")
    assert len(got.collect()) == len(truth)  # runs this plan: final, with metrics
    nodes = _plan_nodes(got)
    # no per-cell rows anywhere: no node carries a cell column
    for node in nodes:
        attrs = node.output()
        assert "__cell" not in {attrs.apply(i).name() for i in range(attrs.size())}
    # the only broadcast holds one row per dimension row, and no
    # broadcast runs Python
    bcasts = [n for n in nodes if _name(n) == "BroadcastExchangeExec"]
    assert len(bcasts) == 1
    assert _rows_out(bcasts[0]) == len(DIM_COUNTRIES)
    assert "EvalPython" not in bcasts[0].toString()
    # no exchange below the join-back but its own broadcast
    (join,) = [n for n in nodes if _name(n) == "BroadcastHashJoinExec"]
    below = _subtree(join)
    assert {_name(n) for n in below if "Exchange" in _name(n)} == {"BroadcastExchangeExec"}
    # one Python UDF finds the matches; the explode emits only them
    assert join.toString().count("s2_dim_probe(") == 1
    (gen,) = [n for n in below if _name(n) == "GenerateExec"]
    assert _rows_out(gen) == len(truth)


def test_second_dim_join_one_job_no_right_covering(spark, dim_sample):
    from duckdb_geography_spark.functions import geoudfs as U

    pts, dim, _ = dim_sample
    J.spatial_join(pts, dim, left_key="pid", right_key="name")  # warm the cache
    sc = spark.sparkContext
    misses, total = U.dim_coverings.misses, U.dim_coverings.total
    sc.setJobGroup("dim-join-rebuild", "second spatial_join over one dimension")
    try:
        got = J.spatial_join(pts, dim, left_key="pid", right_key="name")
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("dim-join-rebuild")) == 1
    assert U.dim_coverings.misses == misses and U.dim_coverings.total == total
    # the right side's only covering is the cached one: no Python UDF
    # feeds either broadcast
    got.count()
    assert not any(py for _, py in _broadcasts(got))


def test_dim_join_mayintersect_matches_shuffle_form(spark, dim_sample):
    """The broadcast form's candidates equal the shuffle form's (the
    unchanged two-sided explode), columns and renames included."""
    pts, dim, _ = dim_sample
    left = pts.withColumn("name", F.lit("pt"))  # collides with the dim's name
    kw = dict(predicate="mayintersect", level=6, left_key="pid", right_key="name")
    bc = J.covering_join(left, dim, broadcast_right=True, **kw)
    sh = J.covering_join(left, dim, broadcast_right=False, **kw)
    assert bc.columns == sh.columns == ["pid", "geog", "name", "name_r", "geog_r"]
    got = sorted((r["pid"], r["name_r"]) for r in bc.collect())
    want = sorted((r["pid"], r["name_r"]) for r in sh.collect())
    assert got == want and len(got) > 0


def test_dim_join_edge_rows_match_shuffle_form(spark, dim_sample):
    """Repeated and NULL geographies, an empty dimension, and right
    columns of other types survive the trip through the driver."""
    import datetime as dt
    import decimal

    pts, dim, _ = dim_sample
    geogs = [r["geog"] for r in dim.orderBy("name").limit(2).collect()]
    rows = [
        (i, g, dt.datetime(2024, 3, 31, 1, 30) + dt.timedelta(hours=i),
         ["a", str(i)], decimal.Decimal(f"{i}.25"))
        for i, g in enumerate([geogs[0], geogs[0], geogs[1], None, geogs[0]])
    ]
    schema = "rid long, geog binary, ts timestamp, tags array<string>, d decimal(10,2)"
    right = spark.createDataFrame(rows, schema)
    kw = dict(level=6, left_key="pid", right_key="rid")
    bc = J.covering_join(pts, right, broadcast_right=True, **kw)
    sh = J.covering_join(pts, right, broadcast_right=False, **kw)
    assert bc.columns == sh.columns
    assert bc.schema == sh.schema
    got, want = sorted(map(tuple, bc.collect())), sorted(map(tuple, sh.collect()))
    assert got == want and {r[2] for r in got} == {0, 1, 2, 4}
    empty = J.covering_join(pts, right.limit(0), broadcast_right=True, **kw)
    assert empty.columns == sh.columns and empty.count() == 0


def _probe_points(parts, rng):
    """Unit vectors that stress a point-in-shape test against ``parts``:
    vertices and edge midpoints (40 edges of up to 6 chains), the antipodes
    of some vertices, points just off the edges, and seeded points near
    the shape and over the sphere."""
    import numpy as np

    chains = [r for rings in parts.polygons for r in rings]
    ends = [np.roll(r, -1, axis=0) for r in chains]
    chains += [l[:-1] for l in parts.lines if len(l) > 1]
    ends += [l[1:] for l in parts.lines if len(l) > 1]
    xs = [parts.points] + [l for l in parts.lines]
    for c in rng.choice(len(chains), min(len(chains), 6), replace=False):
        a, b = chains[c], ends[c]
        pick = np.sort(rng.choice(len(a), min(len(a), 40), replace=False))
        a, b = a[pick], b[pick]
        mid = a + b
        mid /= np.linalg.norm(mid, axis=1)[:, None]
        off = mid + rng.normal(0.0, 1e-9, mid.shape)
        xs += [a, mid, off / np.linalg.norm(off, axis=1)[:, None], -a[:5]]
    near = np.concatenate([x for x in xs if len(x)])
    near = near[rng.integers(0, len(near), 200)] + rng.normal(0.0, 0.01, (200, 3))
    uni = rng.normal(size=(200, 3))
    xs += [near, uni]
    out = np.concatenate([x for x in xs if len(x)])
    return out / np.linalg.norm(out, axis=1)[:, None]


#: right geographies beyond the countries: a polygon with a hole, one
#: across the antimeridian, a line and a multipoint
KERNEL_SHAPES = (
    "POLYGON ((10 10, 30 10, 30 30, 10 30, 10 10), (15 15, 15 25, 25 25, 25 15, 15 15))",
    "POLYGON ((170 -20, -170 -20, -170 -5, 170 -5, 170 -20))",
    "LINESTRING (-60 -10, -40 5, 175 40, -175 41)",
    "MULTIPOINT ((0 0), (179.999 -33), (-45 60))",
)


def test_batched_covers_kernel_matches_per_point():
    """ops._covers_points decides every point as the per-point
    _covers_point does, and every cell-center point as ops.intersects
    does: vertices, edge midpoints, points just off the edges, inside a
    hole, antipodes, across the antimeridian and seeded points."""
    import numpy as np

    from duckdb_geography_spark.geo import geodesy as gd
    from duckdb_geography_spark.geo import ops
    from duckdb_geography_spark.geo.geography import Geography, from_wkt
    from duckdb_geography_spark.s2 import cellmath as cm

    wkts = D._countries_pdf().set_index("name").loc[list(DIM_COUNTRIES), "geog_wkt"]
    rng = np.random.default_rng(20261019)
    for wkt in [*wkts, *KERNEL_SHAPES]:
        g = from_wkt(wkt)
        parts = ops.parts_of(g)
        xs = _probe_points(parts, rng)
        got = ops._covers_points(parts, xs)
        want = np.array([ops._covers_point(parts, x) for x in xs])
        assert np.array_equal(got, want), wkt[:40]
        for ring in parts.polygons[0] if parts.polygons else ():
            # the first polygon's rings, in blocks of 3 points, the last one short
            blocked = gd.winding_numbers(xs[::4], ring, block=3 * len(ring) + 1)
            assert np.array_equal(blocked, [gd.winding_number(x, ring) for x in xs[::4]])
        assert 0 < want.sum() < len(xs)
        # the same points snapped to leaf cell centers, as the join sees them
        lon, lat = np.degrees(np.arctan2(xs[:, 1], xs[:, 0])), np.degrees(np.arcsin(xs[:, 2]))
        ids = cm.lonlat_to_cellid(lon, lat)
        got = ops._covers_points(parts, np.stack(cm.cellid_to_center_xyz(ids), axis=1))
        want = np.array([ops.intersects(Geography.cell_center(c), g) for c in ids])
        assert np.array_equal(got, want), wkt[:40]


def test_dim_join_left_edge_rows(spark, dim_sample):
    """Left rows the batched refine does not take (NULL, empty, an
    invalid cell id, a multipoint, a polygon) match as ops.intersects
    says, next to cell-center points. Left keys are not used on this
    path: two rows with one key each keep their own matches."""
    import struct

    from duckdb_geography_spark.geo import ops
    from duckdb_geography_spark.geo.geography import KIND_CELL_CENTER, Geography, from_wkt

    _, dim, _ = dim_sample
    right = [(r["name"], bytes(r["geog"])) for r in dim.collect()]
    lefts = [
        None,
        from_wkt("POINT EMPTY").encode(),
        from_wkt("POLYGON EMPTY").encode(),
        struct.pack("<BBHQ", KIND_CELL_CENTER, 0, 1, 0),  # invalid cell id
        from_wkt("MULTIPOINT ((12.5 41.9), (139.7 35.7), (0 -60))").encode(),
        from_wkt("POLYGON ((5 44, 9 44, 9 48, 5 48, 5 44))").encode(),  # France/Italy
        from_wkt("POLYGON ((178 -18, -179 -18, -179 -16, 178 -16, 178 -18))").encode(),
        from_wkt("LINESTRING (-75 -40, -70 -10)").encode(),
        from_wkt("POINT (12.5 41.9)").encode(),
        from_wkt("POINT (-70.6 -33.4)").encode(),
    ]
    rows = [(i, b) for i, b in enumerate(lefts)]
    rows += [(5, lefts[5]), (9, lefts[9])]  # duplicate keys, same geographies
    left = spark.createDataFrame(rows, "pid long, geog binary")
    want = sorted(
        (pid, name)
        for pid, b in rows
        if b is not None
        for name, rb in right
        if ops.intersects(Geography.decode(b), Geography.decode(rb))
    )
    assert {p for p, _ in want} == {4, 5, 6, 7, 8, 9}
    for pred_join in (
        lambda: J.covering_join(left, dim, level=5, left_key="pid", broadcast_right=True),
        lambda: J.covering_join(left, dim, level=5, broadcast_right=True),
        lambda: J.spatial_join(left, dim, level=5, left_key="pid"),
    ):
        got = sorted((r["pid"], r["name"]) for r in pred_join().collect())
        assert got == want
    # the duplicate keys' rows are not merged: each row keeps its matches
    assert want.count((9, "Chile")) == 2 and want.count((5, "France")) == 2


def test_fixed_level_cell_center_kernel_matches_coverer():
    """The batched cell-center path of s2_covering_fixed_level equals
    covering_of_geography's cell-center case at every level, next to
    invalid ids, empty points, NULLs and polygons in the same batch."""
    import struct

    import numpy as np
    import pandas as pd

    from duckdb_geography_spark.functions.bounds import _fixed_level_cells
    from duckdb_geography_spark.geo.geography import (
        FLAG_EMPTY,
        KIND_CELL_CENTER,
        Geography,
        from_wkt,
    )
    from duckdb_geography_spark.s2 import cellmath as cm
    from duckdb_geography_spark.s2.coverer import covering_of_geography

    rng = np.random.default_rng(5)
    leaves = cm.lonlat_to_cellid(rng.uniform(-180, 180, 40), rng.uniform(-90, 90, 40))
    ids = list(cm.parent(leaves, rng.integers(0, 31, 40)))  # cells at mixed levels
    blobs = [Geography.cell_center(c).encode() for c in ids]
    blobs += [
        struct.pack("<BBHQ", KIND_CELL_CENTER, 0, 1, 0),  # invalid id
        struct.pack("<BBHQ", KIND_CELL_CENTER, FLAG_EMPTY, 1, int(ids[0])),
        None,
        from_wkt("POINT EMPTY").encode(),
        from_wkt("POINT (12.5 41.9)").encode(),
    ]
    poly = from_wkt("POLYGON ((0 0, 0.01 0, 0.01 0.01, 0 0.01, 0 0))").encode()
    for lev in (0, 5, 8, 17, 30):
        # a polygon in the batch, where its covering fits the cell cap
        batch = blobs + [poly] if lev <= 17 else blobs
        got = _fixed_level_cells(pd.Series(batch, dtype=object), lev).tolist()
        for b, g in zip(batch, got):
            if b is None:
                assert g is None
                continue
            want = covering_of_geography(Geography.decode(b), fixed_level=lev)
            assert g == [int(v) for v in want.view(np.int64)], (lev, b)
