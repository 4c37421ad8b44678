"""Round-5 regression tests: implicit cell->geography coercion
(DuckDB cost-0 cast parity, src/s2_cell_ops.cpp:1033-1051), the
byte-bounded executor caches, and the ADVICE r4 fixes."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sqlr(spark):
    from duckdb_geography_spark.functions.register import register_sql_functions

    register_sql_functions(spark)
    return spark


# ---------------------------------------------------------------------------
# implicit coercion (VERDICT r4 item 2)
# ---------------------------------------------------------------------------


class TestImplicitCoercion:
    def test_area_of_bare_cell_matches_explicit_cast(self, sqlr):
        row = sqlr.sql(
            """
            SELECT s2_area(c) AS a_coerced,
                   s2_area(s2_cell_to_geography(c)) AS a_explicit,
                   s2_perimeter(c) AS p_coerced,
                   s2_perimeter(s2_cell_to_geography(c)) AS p_explicit
            FROM (SELECT s2_cell_parent(s2_cellfromlonlat(2.3, 48.8), 4) AS c)
            """
        ).head()
        assert row["a_coerced"] == row["a_explicit"] > 0
        assert row["p_coerced"] == row["p_explicit"] > 0

    def test_predicates_accept_bare_cells_both_sides(self, sqlr):
        row = sqlr.sql(
            """
            SELECT s2_intersects(c, c) AS ii,
                   s2_contains(c, s2_cellfromlonlat(2.3, 48.8)) AS cc,
                   s2_mayintersect(c, s2_cell_child(c, 1)) AS mi,
                   s2_intersects(c, s2_geogfromtext('POINT (30 10)')) AS disj
            FROM (SELECT s2_cell_parent(s2_cellfromlonlat(2.3, 48.8), 4) AS c)
            """
        ).head()
        assert row["ii"] and row["cc"] and row["mi"] and not row["disj"]

    def test_cell_union_array_coerces(self, sqlr):
        row = sqlr.sql(
            """
            SELECT s2_area(u) AS a_coerced,
                   s2_area(s2_cell_union_to_geography(u)) AS a_explicit
            FROM (SELECT array(s2_cell_parent(s2_cellfromlonlat(2.3, 48.8), 5),
                               s2_cell_edge_neighbor(
                                   s2_cell_parent(s2_cellfromlonlat(2.3, 48.8), 5), 1)) AS u)
            """
        ).head()
        assert row["a_coerced"] == row["a_explicit"] > 0

    def test_invalid_cell_coerces_to_empty_polygon(self, sqlr):
        row = sqlr.sql(
            "SELECT s2_isempty(CAST(-1 AS BIGINT)) AS e, "
            "s2_area(CAST(-1 AS BIGINT)) AS a"
        ).head()
        assert row["e"] is True and row["a"] == 0.0

    def test_astext_covering_bounds_accept_cells(self, sqlr):
        row = sqlr.sql(
            """
            SELECT s2_astext(c) AS wkt, size(s2_covering(c)) AS ncov,
                   s2_bounds_box(c).xmin AS xmin, s2_bounds_box(c).xmax AS xmax
            FROM (SELECT s2_cell_parent(s2_cellfromlonlat(2.3, 48.8), 4) AS c)
            """
        ).head()
        assert row["wkt"].startswith("POLYGON ((")
        assert row["ncov"] >= 1
        assert row["xmin"] < 2.3 < row["xmax"]

    def test_dataframe_surface_coerces_too(self, spark):
        from duckdb_geography_spark.functions import accessors as A
        from duckdb_geography_spark.functions import casts as X
        from duckdb_geography_spark.functions import cells as C

        df = spark.range(1).select(
            C.s2_cell_parent(C.s2_cellfromlonlat(F.lit(2.3), F.lit(48.8)), 4).alias("c")
        )
        row = df.select(
            A.s2_area("c").alias("ac"),
            A.s2_area(X.s2_cell_to_geography("c")).alias("ae"),
        ).head()
        assert row["ac"] == row["ae"] > 0

    def test_genuine_double_is_rejected_loudly(self, sqlr):
        with pytest.raises(Exception, match="non-integral|lossy"):
            sqlr.sql("SELECT s2_area(1.5)").head()

    def test_float64_lossy_leaf_id_rejected(self):
        # nullable longs travel as float64; a leaf id does not fit the
        # 53-bit mantissa and rounds to a nearby (float-exact) integer
        # that is no longer a valid cell id — coercion must refuse
        # rather than quietly produce POLYGON EMPTY
        from duckdb_geography_spark.functions.geoudfs import coerce_geog

        leaf_as_float = float(3383782026652942779)
        with pytest.raises(ValueError, match="float64|truncated"):
            coerce_geog(pd.Series([leaf_as_float], dtype="float64"))

    def test_float64_sentinels_pass(self):
        from duckdb_geography_spark.functions.geoudfs import coerce_geog

        out = coerce_geog(pd.Series([0.0, -1.0], dtype="float64"))
        assert all(v is not None for v in out)  # POLYGON EMPTY, no raise

    def test_float64_exact_coarse_id_accepted_with_nulls(self):
        from duckdb_geography_spark.functions.geoudfs import coerce_geog

        coarse = 3382203320155242496  # level-4 cell: float64-exact
        assert float(int(float(coarse))) == float(coarse)
        out = coerce_geog(pd.Series([float(coarse), float("nan")], dtype="float64"))
        assert out[0][:1] != b"" and out[1] is None

    def test_null_only_and_binary_passthrough(self):
        from duckdb_geography_spark.functions.geoudfs import coerce_geog

        s = pd.Series([None, None], dtype=object)
        assert coerce_geog(s) is s
        b = pd.Series([b"\x01\x01", None], dtype=object)
        assert coerce_geog(b) is b


# ---------------------------------------------------------------------------
# byte-bounded executor caches (VERDICT r4 item 5)
# ---------------------------------------------------------------------------


class TestByteBudgetLRU:
    def test_eviction_keeps_total_under_budget(self):
        from duckdb_geography_spark.functions.geoudfs import ByteBudgetLRU

        loads = []
        cache = ByteBudgetLRU(1000, lambda b: len(b), lambda b: loads.append(b) or b.upper())
        for i in range(50):
            key = (b"k%03d" % i) * 25  # 100 bytes each -> 10 fit
            assert cache(key) == key.upper()
        assert cache.total <= 1000
        assert len(cache) == 10
        # LRU order: the most recent keys survive
        assert (b"k049" * 25) in cache._d and (b"k000" * 25) not in cache._d

    def test_hit_returns_same_object_and_refreshes(self):
        from duckdb_geography_spark.functions.geoudfs import ByteBudgetLRU

        cache = ByteBudgetLRU(300, lambda b: len(b), lambda b: bytearray(b))
        a = cache(b"a" * 100)
        assert cache(b"a" * 100) is a
        cache(b"b" * 100)
        cache(b"c" * 100)
        cache(b"a" * 100)  # refreshed -> b evicted next
        cache(b"d" * 100)
        assert (b"a" * 100) in cache._d and (b"b" * 100) not in cache._d

    def test_oversized_value_computed_not_cached(self):
        from duckdb_geography_spark.functions.geoudfs import ByteBudgetLRU

        cache = ByteBudgetLRU(10, lambda b: len(b), lambda b: b)
        assert cache(b"x" * 100) == b"x" * 100
        assert len(cache) == 0 and cache.total == 0

    def test_concurrent_use_keeps_accounts(self):
        # several driver threads building joins share dim_coverings:
        # interleaved inserts and evictions must keep the byte total
        # equal to the entries held, and within the budget
        import sys
        import threading

        from duckdb_geography_spark.functions.geoudfs import ByteBudgetLRU

        cache = ByteBudgetLRU(2000, lambda b: len(b), lambda b: b[::-1])
        errors = []

        def hammer(t):
            try:
                for i in range(3000):
                    key = b"%d-" % ((i * 7 + t) % 97) * (1 + i % 9)
                    assert cache(key) == key[::-1]
            except Exception as exc:  # reported below, with the thread's values
                errors.append(exc)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=hammer, args=(t,)) for t in range(8)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
        finally:
            sys.setswitchinterval(old)
        assert not any(th.is_alive() for th in threads)
        assert errors == []
        assert cache.total == sum(cache._cost.values()) <= cache.budget
        assert set(cache._d) == set(cache._cost)
        # UDFs pickled by value carry caches: the lock must not stop them
        from pyspark import cloudpickle

        copy = cloudpickle.loads(cloudpickle.dumps(cache))
        assert len(copy) == len(cache) and copy.total == cache.total
        assert copy(b"abc") == b"cba"

    def test_decode_results_unchanged_across_eviction(self):
        # >N distinct polygons through a small budget: results must be
        # identical to a cold decode (the r4 VERDICT scenario: a
        # broadcast side with thousands of large polygons must bound
        # worker heap without changing answers)
        from duckdb_geography_spark.functions.geoudfs import ByteBudgetLRU
        from duckdb_geography_spark.geo.geography import Geography, from_wkt

        bufs = []
        for i in range(64):
            lon = -170 + i * 5
            wkt = (
                f"POLYGON (({lon} 0, {lon + 2} 0, {lon + 2} 2, {lon} 2, {lon} 0))"
            )
            bufs.append(from_wkt(wkt).encode())
        small = ByteBudgetLRU(
            sum(len(b) for b in bufs[:4]) * 4 + 4096,
            lambda b: 4 * len(b) + 1024,
            Geography.decode,
        )
        wkts = [small(b).to_wkt(None) for b in bufs]
        assert len(small) < 64  # eviction actually happened
        cold = [Geography.decode(b).to_wkt(None) for b in bufs]
        assert wkts == cold


# ---------------------------------------------------------------------------
# IVF training sample de-bias (VERDICT r4 item 4)
# ---------------------------------------------------------------------------


class TestIvfSamplingDebias:
    @pytest.fixture(scope="class")
    def clustered(self, spark):
        # key order CORRELATES with cluster identity: keys 0-99 are all
        # cluster 0, 100-199 cluster 1, ... — time-ordered ingest where
        # early data is not the corpus distribution (the case that
        # broke the smallest-keys sampler)
        import numpy as np

        rng = np.random.default_rng(42)
        dim, per = 16, 100
        centers = np.zeros((4, dim))
        for c in range(4):
            centers[c, 4 * c : 4 * c + 4] = 1.0
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        for c in range(4):
            for i in range(per):
                v = centers[c] + 0.05 * rng.standard_normal(dim)
                v /= np.linalg.norm(v)
                rows.append((c * per + i, [float(x) for x in v]))
        return (
            spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
            centers,
        )

    def test_hash_sample_covers_all_clusters(self, clustered):
        import numpy as np

        from duckdb_geography_spark.llm.similarity import ivf_training_sample

        df, centers = clustered
        sample = ivf_training_sample(df, sample_size=64)
        # nearest true center per sampled vector
        owners = np.argmax(sample @ centers.T, axis=1)
        assert set(owners.tolist()) == {0, 1, 2, 3}
        # the OLD smallest-keys spec would have sampled ONLY cluster 0
        key_head = (
            df.orderBy("vec_id").limit(64).toPandas()["embedding"].tolist()
        )
        key_owners = np.argmax(
            np.array([[float(x) for x in v] for v in key_head]) @ centers.T, axis=1
        )
        assert set(key_owners.tolist()) == {0}

    def test_trained_ivf_recall_on_biased_keys(self, clustered):
        from duckdb_geography_spark.llm.similarity import (
            cosine_topk,
            ivf_topk,
            ivf_training_sample,
            train_ivf_centroids,
        )

        df, centers = clustered
        cents = train_ivf_centroids(
            ivf_training_sample(df, sample_size=64), n_centroids=4, seed=11
        )
        # query near cluster 3 — a cluster the old sampler never saw
        q = [float(x) for x in centers[3]]
        approx = {
            r["vec_id"]
            for r in ivf_topk(
                df, q, k=10, n_centroids=4, n_probe=1, centroids=cents
            ).collect()
        }
        exact = {r["vec_id"] for r in cosine_topk(df, q, k=10).collect()}
        recall = len(approx & exact) / 10
        assert recall >= 0.9, recall


# ---------------------------------------------------------------------------
# ADVICE r4 fixes
# ---------------------------------------------------------------------------


class TestAdviceFixes:
    def test_unprepare_empty_bytes_passthrough(self, spark):
        # io.py:182 indexed raw[0] on zero-length binary -> IndexError
        from duckdb_geography_spark.functions.io import s2_unprepare

        df = spark.createDataFrame([(b"",), (None,)], "g binary")
        rows = df.select(s2_unprepare("g").alias("o")).collect()
        assert rows[0]["o"] == b"" and rows[1]["o"] is None

    def test_broadcast_spatial_join_duplicate_geog_names(self, spark):
        # joins.py:405: both sides carrying 'geog' made the post-join
        # unprepare restore raise AMBIGUOUS_REFERENCE
        from duckdb_geography_spark.functions.io import s2_geogfromtext
        from duckdb_geography_spark.functions.predicates import s2_intersects
        from duckdb_geography_spark.joins import broadcast_spatial_join

        big = spark.createDataFrame(
            [("a", 1, "POINT (0.5 0.5)"), ("b", 2, "POINT (5 5)")],
            "id string, k int, wkt string",
        ).select("id", "k", s2_geogfromtext("wkt").alias("geog"))
        small = spark.createDataFrame(
            [(1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")], "k2 int, wkt string"
        ).select("k2", s2_geogfromtext("wkt").alias("geog"))
        # condition resolves fine; the OUTPUT carries 'geog' twice, so
        # the old name-based withColumn restore raised
        # AMBIGUOUS_REFERENCE where the unprepared join succeeded
        out = broadcast_spatial_join(
            big, small, big["k"] == F.col("k2"), geog_col="geog"
        )
        rows = out.collect()
        assert [r["id"] for r in rows] == ["a"]
        assert out.columns == ["id", "k", "geog", "k2", "geog"]
        # small side's slot (index 4) restored to the ORIGINAL bytes,
        # big side's slot (index 2) untouched
        small_bytes = bytes(small.select("geog").head()["geog"])
        big_bytes = bytes(big.where("id = 'a'").select("geog").head()["geog"])
        assert bytes(rows[0][4]) == small_bytes
        assert bytes(rows[0][2]) == big_bytes

    def test_lint_flags_single_side_equality(self, spark):
        # joins.py:542 treated any ' = ' substring as an equi-join
        # component; b.type = 'x' is a pushed-down FILTER, the join is
        # still an unconditioned nested loop and must be flagged
        from duckdb_geography_spark.functions.register import register_sql_functions
        from duckdb_geography_spark.joins import lint_spatial_joins

        register_sql_functions(spark)
        spark.sql(
            "SELECT s2_geogfromtext('POINT (0.5 0.5)') AS geog, 'x' AS typ"
        ).createOrReplaceTempView("lint_a")
        spark.sql(
            "SELECT s2_geogfromtext('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS geog, 'x' AS typ"
        ).createOrReplaceTempView("lint_b")
        naive = spark.sql(
            "SELECT * FROM lint_a a JOIN lint_b b "
            "ON s2_intersects(a.geog, b.geog) AND b.typ = 'x'"
        )
        hits = lint_spatial_joins(naive, warn=False)
        assert len(hits) == 1

    def test_lsh_warn_dropped_fires_on_skew_guard(self, spark):
        import warnings

        from duckdb_geography_spark.llm.dedup import minhash_lsh_pairs

        rows = [(i, "the same boilerplate text repeated everywhere") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            pairs = minhash_lsh_pairs(
                df, max_bucket=10, warn_dropped=True
            ).collect()
        msgs = [str(w.message) for w in caught if "skew guard dropped" in str(w.message)]
        assert msgs and "max_bucket=10" in msgs[0]
        assert pairs == []  # every band saturates: guard drops all

    def test_lsh_warn_dropped_silent_when_no_drop(self, spark):
        import warnings

        from duckdb_geography_spark.llm.dedup import minhash_lsh_pairs

        rows = [(i, f"distinct document number {i} with words") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            minhash_lsh_pairs(df, max_bucket=500, warn_dropped=True).collect()
        assert not [w for w in caught if "skew guard" in str(w.message)]

    def test_lint_still_suppresses_real_equijoin(self, spark):
        from duckdb_geography_spark.functions.register import register_sql_functions
        from duckdb_geography_spark.joins import lint_spatial_joins

        register_sql_functions(spark)
        spark.sql(
            "SELECT s2_geogfromtext('POINT (0.5 0.5)') AS geog, 'x' AS typ"
        ).createOrReplaceTempView("lint_c")
        spark.sql(
            "SELECT s2_geogfromtext('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))') AS geog, 'x' AS typ"
        ).createOrReplaceTempView("lint_d")
        mixed = spark.sql(
            "SELECT * FROM lint_c a JOIN lint_d b "
            "ON s2_intersects(a.geog, b.geog) AND a.typ = b.typ"
        )
        assert lint_spatial_joins(mixed, warn=False) == []
