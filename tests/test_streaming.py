"""Structured Streaming recipes over the events table (availableNow
triggers so tests are bounded)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from duckdb_geography_spark.streaming import events as SE

SF = "/root/testdata/sf0.001"


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if name == "sessions" else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts(spark):
    ev = SE.read_events_stream(spark, SF)
    out = SE.windowed_event_counts(ev)
    q = _run_stream(out, "win_counts")
    got = spark.sql("SELECT * FROM win_counts").collect()
    assert len(got) > 0
    # cross-check against the batch equivalent
    raw = spark.read.parquet(f"{SF}/events.parquet")
    if dict(raw.dtypes)["ts"] == "bigint":  # nanosAsLong in effect
        raw = raw.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    batch = raw.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n")
    )
    batch_total = batch.agg(F.sum("n")).collect()[0][0]
    stream_total = sum(r.n for r in got)
    assert stream_total == batch_total


def test_cell_rollup_stream(spark):
    ev = SE.read_events_stream(spark, SF)
    out = SE.cell_rollup_stream(ev, level=3)
    _run_stream(out, "cell_rollup")
    got = spark.sql("SELECT * FROM cell_rollup").collect()
    assert len(got) > 0
    from duckdb_geography_spark.s2 import cellmath as cm
    import numpy as np

    cells = np.array([r.cell for r in got], dtype=np.int64).view(np.uint64)
    assert (cm.level(cells) == 3).all()


def test_sessionize(spark):
    ev = SE.read_events_stream(spark, SF)
    out = SE.sessionize(ev, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # the per-user timers keep the query alive: drain, then stop it
    assert SE.drain_and_stop(q)
    got = spark.sql("SELECT * FROM sessions").collect()
    # closed sessions require gaps; with availableNow a single batch may
    # close few — schema and non-negative invariants are the contract
    for r in got:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1


def test_sessionize_splits_gaps_within_one_microbatch(spark, tmp_path):
    # a backfill delivers a user's whole history in ONE micro-batch:
    # the >gap silence inside the batch must still split sessions
    import datetime as dt

    import pandas as pd

    t0 = dt.datetime(2024, 1, 1)
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [t0, t0 + dt.timedelta(minutes=10), t0 + dt.timedelta(hours=2)],
            "user_id": [7, 7, 7],
            "value": [1.0, 2.0, 4.0],
        }
    )
    d = tmp_path / "one_batch"
    d.mkdir()
    rows.to_parquet(d / "b0.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(d / "b0.parquet")).schema
    src = spark.readStream.schema(schema).parquet(str(d))
    out = SE.sessionize(src, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("s_split")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert SE.drain_and_stop(q)
    got = spark.sql("SELECT * FROM s_split ORDER BY session_start").collect()
    # first session (2 events, 10-min span) closes INSIDE the batch;
    # the t0+2h session stays open in state
    assert len(got) == 1
    assert got[0].n_events == 2 and got[0].total_value == 3.0


def test_sessionize_batch(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    mins = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    rows = [
        # user 1: two sessions split by a 40-min gap
        (1, 1, mins(0), 1.0),
        (2, 1, mins(10), 2.0),
        (3, 1, mins(50), 4.0),
        # user 2: one session, events 29 min apart chain together
        (4, 2, mins(0), 1.0),
        (5, 2, mins(29), 1.0),
        (6, 2, mins(58), 1.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    got = {
        (r.user_id, r.session_id): r
        for r in SE.sessionize_batch(df, gap_minutes=30).collect()
    }
    assert len(got) == 3
    assert got[(1, 0)].n_events == 2 and got[(1, 1)].n_events == 1
    assert got[(2, 0)].n_events == 3
    assert got[(1, 0)].value_micro == 3_000_000
    # one shuffle total: the windows and the final agg share the
    # user_id hash partitioning
    plan = (
        SE.sessionize_batch(df, gap_minutes=30)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_stream_dedup_bounded_state(spark, tmp_path):
    # two micro-batch files with overlapping event_ids: the dup in the
    # second file (within the watermark) must be dropped
    import pandas as pd

    base = pd.read_parquet(f"{SF}/events.parquet").head(100)
    d = tmp_path / "stream_in"
    d.mkdir()
    base.head(60).to_parquet(d / "b0.parquet")
    base.tail(60).to_parquet(d / "b1.parquet")  # 20 ids overlap
    schema = spark.read.parquet(str(d / "b0.parquet")).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    if dict(src.dtypes)["ts"] == "bigint":
        src = src.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    out = SE.stream_dedup(src)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_stream").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids)) == 100


def test_stream_decontaminate_stateless(spark, tmp_path):
    """Streaming decontamination: benchmark grams as a driver literal,
    stateless arrays_overlap flag; availableNow run must match batch
    decontaminate on the same data."""
    from duckdb_geography_spark.llm.prep import decontaminate
    from duckdb_geography_spark.streaming.events import (
        collect_benchmark_grams,
        stream_decontaminate,
    )

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (3, "totally clean words here nothing shared at all ok"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs")
    docs.write.parquet(path)
    bench = docs.where(F.col("doc_id") == 1)
    grams = collect_benchmark_grams(bench, n=4)
    assert len(grams) == 6  # 9 words -> 6 4-grams

    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    out = stream_decontaminate(stream, grams, n=4).select("doc_id", "contaminated")
    q = (
        out.writeStream.format("memory")
        .queryName("decon_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r["doc_id"]: r["contaminated"] for r in spark.table("decon_test").collect()
    }
    want = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(docs, bench, n=4).collect()
    }
    assert got == want == {1: True, 2: False, 3: False}


def test_collect_benchmark_grams_cap(spark):
    from duckdb_geography_spark.streaming.events import collect_benchmark_grams

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_grams"):
        collect_benchmark_grams(docs, n=2, max_grams=3)


def test_stream_interval_join_matches_batch(spark):
    """The watermarked stream-stream range join must agree exactly with
    the batch temporal.interval_join on the same data."""
    import uuid

    from pyspark.sql import functions as F

    from duckdb_geography_spark.streaming import events as SE
    from duckdb_geography_spark.temporal import interval_join

    views_s = (
        SE.read_events_stream(spark, SF)
        .where(F.col("event_type") == "view")
        .select("user_id", "ts", F.col("event_id").alias("view_id"))
    )
    errs_s = (
        SE.read_events_stream(spark, SF)
        .where(F.col("event_type") == "error")
        .select("user_id", "ts", "event_id")
    )
    out = SE.stream_interval_join(views_s, errs_s, window_seconds=86400)
    qname = f"sij_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["view_id"], r["i_event_id"])
        for r in spark.table(qname).select("view_id", "i_event_id").collect()
    }

    ev = SE._ensure_event_time(spark.read.parquet(f"{SF}/events.parquet"))
    views_b = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    errs_b = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("end"),
    )
    want = {
        (r["view_id"], r["err_id"])
        for r in interval_join(
            views_b, errs_b, on="user_id", bin_seconds=86400
        ).select("view_id", "err_id").collect()
    }
    assert got == want and len(got) > 0


def test_funnel_stages_ordered_subsequence(spark):
    """Stage = longest steps-prefix embeddable as a strictly-time-
    increasing subsequence; out-of-order and equal-timestamp events
    must not advance."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_geography_spark.streaming.events import funnel_stages

    t0 = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)
    rows = [
        # u1: full ordered funnel
        (1, t0, "view"), (1, t0 + sec, "click"), (1, t0 + 2 * sec, "purchase"),
        # u2: purchase BEFORE click -> stops at click (stage 2)
        (2, t0, "view"), (2, t0 + 2 * sec, "click"), (2, t0 + sec, "purchase"),
        # u3: click at the SAME instant as view -> strict > blocks it
        (3, t0, "view"), (3, t0, "click"),
        # u4: no view at all, later steps don't count
        (4, t0, "click"), (4, t0 + sec, "purchase"),
        # u5: greedy-trap — early view, then the only click precedes a
        # second view; greedy keeps the FIRST view and still finds the
        # click after it
        (5, t0, "view"), (5, t0 + sec, "click"), (5, t0 + 2 * sec, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["user_id"]: r["stage"]
        for r in funnel_stages(df, ["view", "click", "purchase"]).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1, 4: 0, 5: 2}


def test_windowed_neardup_owners_and_novel(spark, tmp_path):
    """Windowed streaming near-dup: a doc arriving after a near-dup in
    its window owns fewer than `bands` buckets and is suppressed by the
    neardup_novel finisher; distinct docs own all their buckets. The
    min-(ts,key) ownership makes the result deterministic regardless
    of micro-batching."""
    import datetime as dt

    import pandas as pd

    t0 = dt.datetime(2024, 1, 1)
    texts = {
        1: "the quick brown fox jumps over the lazy dog in the morning sun",
        2: "a completely different second document about other topics entirely",
        3: "the quick brown fox jumps over the lazy dog in the morning sun x",
        4: "yet another unrelated document with fresh content and words",
        99: "late sentinel far in the future to flush every window cleanly",
    }
    mins = {1: 0, 2: 1, 3: 5, 4: 6, 99: 60 * 24}
    d = tmp_path / "nd_in"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[k] for k in texts],
            "ts": pd.Series(
                [t0 + dt.timedelta(minutes=mins[k]) for k in texts]
            ).astype("datetime64[us]"),
        }
    ).to_parquet(d / "docs.parquet")
    schema = spark.read.parquet(str(d / "docs.parquet")).schema
    src = spark.readStream.schema(schema).parquet(str(d))
    owners = SE.windowed_neardup_owners(src, bands=8, num_perm=64)
    q = (
        owners.writeStream.format("memory")
        .queryName("nd_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("nd_stream")
    novel = sorted(
        r["doc_id"] for r in SE.neardup_novel(got, bands=8).collect()
    )
    assert novel == [1, 2, 4]  # 3 is a near-dup of 1; 99's window unflushed
    # doc 3 appears as owner of at most a band or two, never all 8
    owned_by_3 = got.where(F.col("owner") == 3).count()
    assert 0 <= owned_by_3 < 8
