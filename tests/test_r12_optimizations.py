"""Round-12 optimization regression tests.

Each optimization that changed an operator's internals gets a focused
identity test: the optimized path must produce exactly the rows the
original path produced (the same contract as test_r11_optimizations).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def messy_docs(spark):
    # empty text, NULL text, whitespace, short strings, a near-dup pair
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, ""),
            (4, None),
            (5, "x"),
            (6, "abcd"),
            (7, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )


def _lloyd_kernel_vs_jvm(emb, cents):
    """Per-cluster integer sums of one Lloyd iteration: the mapInArrow
    kernel's, and the JVM form's (_assign_udf +
    sum(element_at(_quant_col(v), i)) aggregate)."""
    import numpy as np
    from pyspark.sql import functions as F

    from duckdb_geography_spark.llm import cluster as CL

    dim = cents.shape[1]
    base = emb.select(F.col("embedding").alias("__v"))
    got_rows = base.mapInArrow(
        CL._lloyd_partials_kernel(cents), "__c int, __sums array<long>"
    ).collect()
    got: dict = {}
    for r in got_rows:
        v = np.asarray(r["__sums"], dtype=np.int64)
        got[int(r["__c"])] = got.get(int(r["__c"]), 0) + v

    agg = F.expr(
        "array("
        + ", ".join(f"sum(element_at(__qv, {i + 1}))" for i in range(dim))
        + ") AS __sums"
    )
    ref_rows = (
        emb.select(
            F.col("embedding").alias("__v"),
            CL._quant_col("embedding").alias("__qv"),
        )
        .withColumn("__c", CL._assign_udf(cents)("__v"))
        .where(F.col("__c").isNotNull())
        .groupBy("__c")
        .agg(agg)
        .collect()
    )
    ref = {
        int(r["__c"]): np.asarray(
            [int(v) if v is not None else 0 for v in r["__sums"]], dtype=np.int64
        )
        for r in ref_rows
    }
    return got, ref


def test_lloyd_partials_kernel_matches_jvm_aggregate(spark):
    """One Lloyd iteration's per-cluster integer sums from the r12
    mapInArrow kernel must equal the r11 JVM form (_assign_udf +
    sum(element_at(_quant_col(v), i)) aggregate) exactly."""
    import numpy as np
    import pandas as pd

    from duckdb_geography_spark.llm import cluster as CL

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sample = np.stack(
        pd.read_parquet(
            f"{SF_DIR}/embeddings.parquet", columns=["embedding"]
        )["embedding"].to_numpy()[:32]
    ).astype(np.float64)
    cents = CL._init_centroids(sample, 4, 11)
    got, ref = _lloyd_kernel_vs_jvm(emb, cents)
    assert set(got) == set(ref)
    for c in ref:
        assert (got[c] == ref[c]).all(), c


def test_lloyd_partials_kernel_dirty_vectors(spark):
    """NaN, NULL and inf elements, zero and NULL vectors: the kernel
    quantizes a vector whose norm is not finite to 0, as the JVM form
    does, instead of adding INT64_MIN to its cluster's sums."""
    import numpy as np

    from duckdb_geography_spark.llm import cluster as CL

    rng = np.random.default_rng(7)
    clean = rng.normal(size=(40, 6))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(clean)]
    nan_el = [float(x) for x in clean[0]]
    nan_el[2] = float("nan")
    null_el = [float(x) for x in clean[1]]
    null_el[4] = None
    inf_el = [float(x) for x in clean[2]]
    inf_el[0] = float("inf")
    rows += [(100, nan_el), (101, null_el), (102, inf_el), (103, [0.0] * 6), (104, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(2)
    cents = CL._init_centroids(clean[:16], 3, 11)
    got, ref = _lloyd_kernel_vs_jvm(emb, cents)
    assert set(got) == set(ref)
    for c in ref:
        assert (got[c] == ref[c]).all(), c
    # the dirty rows change no sum: the clean rows alone give the same
    clean_got, _ = _lloyd_kernel_vs_jvm(
        spark.createDataFrame(rows[:40], "vec_id long, embedding array<double>"), cents
    )
    assert all((got[c] == clean_got.get(c, 0)).all() for c in got)


def test_char_entropy_features_hook_identical(spark, messy_docs):
    """char_entropy_stats(features=...) must equal the join of the
    caller's own projection with the featureless result — the r12
    text_stats fusion contract."""
    from pyspark.sql import functions as F

    from duckdb_geography_spark.llm import textstats as T

    feats = {
        "n_char": T.char_count("text").cast("long"),
        "fp": T.fingerprint_md5("text"),
    }
    fused = _rows(T.char_entropy_stats(messy_docs, features=feats))
    stats = messy_docs.select(
        "doc_id",
        T.char_count("text").cast("long").alias("n_char"),
        T.fingerprint_md5("text").alias("fp"),
    )
    ref = _rows(
        stats.join(T.char_entropy_stats(messy_docs), "doc_id").select(
            "doc_id", "n_char", "fp", "h_char"
        )
    )
    assert fused == ref


def test_cell_gates_single_lonlat_evaluation(spark):
    """The vertex/neighbor/union oracle gates must carry exactly one
    _cellfromlonlat evaluation per distinct point (the composed form
    inlined 11/11/25 copies — the pip_covering_join pathology)."""
    import __spark_entry__ as e

    qs = e.queries()
    for name, expected in (
        ("cell_vertex_gate", 1),
        ("cell_neighbor_gate", 1),
        ("cell_union_gate", 2),
    ):
        plan = (
            qs[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("_cellfromlonlat_udf(") == expected, name


def test_group_then_format_rewrites_identical(spark):
    """tpch_top_orders / events_hourly group on raw date/timestamp and
    format AFTER the aggregate (r12) — results must equal the
    format-inside-groupBy originals."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e

    spark_qs = e.queries()
    got_to = _rows(spark_qs["tpch_top_orders"](spark, SF_DIR))
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")) * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    bld = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ob = orders.join(
        F.broadcast(bld), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "o_orderdate")
    ref_to = _rows(
        li.join(F.broadcast(ob), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "o_orderdate_s"
            ),
        )
        .agg(F.sum(rev).alias("revenue_cc"))
        .orderBy(F.desc("revenue_cc"), "o_orderkey")
        .limit(10)
    )
    assert got_to == ref_to

    got_eh = _rows(spark_qs["events_hourly"](spark, SF_DIR))
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ref_eh = _rows(
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias(
                "value_micro"
            ),
        )
        .orderBy("hour", "event_type")
    )
    assert got_eh == ref_eh
