"""The broadcast_right hint is bounded-probe-guarded (VERDICT r10
item 5): a forced ``F.broadcast`` bypasses autoBroadcastJoinThreshold,
so a hint on a side that turns out to be data-sized must fall back to
the shuffle equi-join instead of OOMing an executor. The probe is the
knn_join pattern — ``limit(cap+1).count()``, bounded at any table
size, and it runs on the UN-exploded frame so it never pays the
covering UDF."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from duckdb_geography_spark import joins as J
from duckdb_geography_spark.functions.cells import s2_cellfromlonlat
from duckdb_geography_spark.functions.io import s2_geogfromtext


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def points(spark):
    return spark.range(0, 50, 1, 4).select(
        F.col("id").alias("pid"),
        s2_cellfromlonlat(
            (F.col("id") % 360 - 180.0).cast("double"),
            (F.col("id") % 170 - 85.0).cast("double"),
        ).alias("cell"),
        s2_geogfromtext(
            F.concat(
                F.lit("POINT ("),
                (F.col("id") % 360 - 180.0).cast("double"),
                F.lit(" "),
                (F.col("id") % 170 - 85.0).cast("double"),
                F.lit(")"),
            )
        ).alias("geog"),
    )


def _regions(spark, n: int):
    return spark.range(0, n, 1, 4).select(
        F.col("id").alias("rid"),
        s2_geogfromtext(
            F.lit("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        ).alias("geog"),
    )


def test_small_right_side_still_broadcasts(spark, points):
    out = J.cell_containment_join(
        points, _regions(spark, 20), refine=False, broadcast_regions=True
    )
    assert "BroadcastExchange" in _physical(out)


@pytest.fixture
def no_auto_broadcast(spark):
    # the planner would STATICALLY broadcast any tiny test frame from
    # its size estimate, masking the guard under test — turn the
    # automatic conversion off so the plan shows the guard's choice
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_oversized_right_side_falls_back_to_shuffle(
    spark, points, monkeypatch, no_auto_broadcast
):
    # shrink the cap so the probe trips without building a 100k-row
    # frame: the guard logic is identical at any threshold
    monkeypatch.setattr(J, "BROADCAST_RIGHT_MAX_ROWS", 10)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = J.cell_containment_join(
            points, _regions(spark, 50), refine=False, broadcast_regions=True
        )
        plan = _physical(out)
    assert "BroadcastExchange" not in plan
    assert "BroadcastHashJoin" not in plan
    assert any("falling back to a shuffle" in str(x.message) for x in w)


def test_covering_join_guard_trips_too(
    spark, points, monkeypatch, no_auto_broadcast
):
    monkeypatch.setattr(J, "BROADCAST_RIGHT_MAX_ROWS", 10)
    out = J.covering_join(
        points.select("pid", "geog"),
        _regions(spark, 50),
        left_key="pid",
        right_key="rid",
        broadcast_right=True,
    )
    plan = _physical(out)
    assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan


def test_distance_join_honors_hint_under_cap(spark, points):
    out = J.distance_join(
        points.select("pid", "geog"),
        _regions(spark, 20),
        meters=50_000.0,
        left_key="pid",
        right_key="rid",
        broadcast_right=True,
    )
    assert "BroadcastExchange" in _physical(out)


def _unevaluable_regions(spark, n: int):
    """A right side whose geography column fails if it is ever
    computed: a probe must count it without evaluating that UDF."""

    def _boom(_):  # nested, so it pickles by value
        raise RuntimeError("the probe evaluated the right side's geography UDF")

    return spark.range(0, n, 1, 4).select(
        F.col("id").alias("rid"), F.udf(_boom, "binary")("id").alias("geog")
    )


def _fallback_warned(w) -> bool:
    return any("falling back to a shuffle" in str(x.message) for x in w)


def test_over_cap_side_is_not_computed(spark, points, monkeypatch, no_auto_broadcast):
    monkeypatch.setattr(J, "BROADCAST_RIGHT_MAX_ROWS", 10)
    left = points.select("pid", "geog")
    right = _unevaluable_regions(spark, 50)
    for _ in range(2):  # a repeated probe of the same plan counts again
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            bc = J.covering_join(left, right, left_key="pid", right_key="rid",
                                 broadcast_right=True)
            sj = J.spatial_join(left, right, left_key="pid", right_key="rid")
        assert _fallback_warned(w)
        for out in (bc, sj):
            plan = _physical(out)
            assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan


def test_spatial_join_warns_only_when_the_cap_refuses(
    spark, points, monkeypatch, no_auto_broadcast
):
    monkeypatch.setattr(J, "BROADCAST_RIGHT_MAX_ROWS", 10)
    left = points.select("pid", "geog")

    def warned(n: int) -> bool:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = J.spatial_join(left, _unevaluable_regions(spark, n), left_key="pid",
                                 right_key="rid", broadcast_rows=20)
        assert "BroadcastExchange" not in _physical(out)
        return _fallback_warned(w)

    assert warned(15)  # broadcast_rows allowed it, the cap refused it
    assert not warned(50)  # over broadcast_rows: the shuffle form is the plan's own pick


def test_probe_recounts_a_side_that_outgrew_the_cap(
    spark, points, monkeypatch, no_auto_broadcast
):
    """A plan remembered as fitting is collected without a count; when
    it no longer fits, the probe forgets it and counts after all."""
    left = points.select("pid", "geog")
    right = _regions(spark, 15)
    monkeypatch.setattr(J, "BROADCAST_RIGHT_MAX_ROWS", 20)
    out = J.covering_join(left, right, left_key="pid", right_key="rid", broadcast_right=True)
    out.count()
    assert "BroadcastExchange" in _physical(out)
    assert J._dim_fits.get(right.semanticHash())
    monkeypatch.setattr(J, "BROADCAST_RIGHT_MAX_ROWS", 10)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = J.covering_join(left, right, left_key="pid", right_key="rid",
                              broadcast_right=True)
    assert _fallback_warned(w)
    assert "BroadcastExchange" not in _physical(out)
    assert J._dim_fits.get(right.semanticHash()) is None
