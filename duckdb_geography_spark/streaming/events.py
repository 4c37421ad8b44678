"""Structured Streaming recipes over the events stream table.

The reference has no streaming surface (SURVEY.md S2.9 explicitly
lists it out of scope for the extension); these are the beyond-
reference operators a continuously-ingesting training-data pipeline
needs: watermark + windowed aggregation, cell-bucketed geo rollups,
and a stateful sessionizer via applyInPandasWithState.
"""

from __future__ import annotations

import datetime as dt
import time
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "read_events_stream",
    "windowed_event_counts",
    "cell_rollup_stream",
    "sessionize",
    "sessionize_batch",
    "drain_and_stop",
    "stream_dedup",
    "read_documents_stream",
    "collect_benchmark_grams",
    "funnel_stages",
    "stream_interval_join",
    "stream_decontaminate",
    "windowed_neardup_owners",
    "neardup_novel",
    "windowed_hll_registers",
]


def _ensure_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Watermarks require TIMESTAMP (LTZ); fixture parquet arrives as
    timezone-less micros (TIMESTAMP_NTZ) or epoch-nanos longs. Coerce
    either to LTZ. The NTZ cast interprets the wall clock in the
    session timezone, so rendering the result (date_format) under the
    same session round-trips the original wall clock — standard Spark
    semantics, no session config is mutated here. Pipelines that need
    timezone-pinned window boundaries should set
    ``spark.sql.session.timeZone`` themselves (the driver gates pin
    UTC)."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # integer division: (col / 1000) routes through double, whose
        # 53-bit mantissa cannot represent current-era nanos exactly —
        # many values would shift by 1 us across window boundaries
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet directory (each file
    is one micro-batch under Trigger.AvailableNow — test- and
    backfill-friendly). TIMESTAMP(NANOS) parquet needs the session's
    nanosAsLong flag; probe first and only set it when the file
    actually requires it (the flag changes the schema every later
    parquet read in the session sees, so don't flip it gratuitously).
    """
    try:
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    df = _stream_table(spark, schema, sf_dir, "events.parquet")
    return _ensure_event_time(df)


def _stream_table(spark: SparkSession, schema, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one table of an sf dir, handling BOTH
    fixture layouts: a single ``<name>`` parquet FILE (the driver's
    testdata — the file source needs a directory, so stream the parent
    glob-filtered to the file), and a Spark-written dataset DIRECTORY
    ``<name>/part-*.parquet`` (the .scale/sf1+ layout and what any
    production writer produces — stream the directory itself; the
    glob filter would exclude every part file)."""
    import os

    path = f"{sf_dir}/{name}"
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", name)
        .parquet(sf_dir)
    )


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Late-data-tolerant windowed counts per event_type: watermark
    bounds state; partial aggregation happens map-side before the
    shuffle, so state size tracks (windows x types), not rows."""
    return (
        _ensure_event_time(events).withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.round("total_value", 6).alias("total_value"),
        )
    )


def cell_rollup_stream(events: DataFrame, level: int = 4) -> DataFrame:
    """Geo rollup: derive a deterministic lon/lat from user_id (the
    driver's synthetic recipe, FIXTURES.md S7), bucket into S2 cells
    at ``level`` with pure-Column parents, count per cell+window.

    At scale the cell id is also the natural partition key for the
    sink (write.partitionBy on the cell token prunes reads)."""
    from ..functions import cells as C
    from .. import synth

    # the synthetic lon/lat recipe is the oracle contract — reuse the
    # one definition so the streaming rollup can't drift from it
    lon = synth.cust_lon("user_id")
    lat = synth.cust_lat("user_id")
    cell = C.s2_cell_parent(C.s2_cellfromlonlat(lon, lat), level)
    return (
        _ensure_event_time(events).withWatermark("ts", "2 hours")
        .withColumn("cell", cell)
        .groupBy(F.window("ts", "1 hour").alias("w"), "cell")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "cell", "n")
    )


_SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start", DoubleType()),
        StructField("end", DoubleType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful operator: per-user session windows with a
    ``gap_minutes`` inactivity timeout, via applyInPandasWithState —
    the Spark-native equivalent of a hand-written stateful stream
    operator. Emits one row per closed session."""
    gap = gap_minutes * 60.0

    def fn(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            (start, end, n, total) = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(int(start), unit="us")],
                    "session_end": [pd.Timestamp(int(end), unit="us")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return
        rows = pd.concat(list(pdfs)).sort_values("ts")
        # exact integer microseconds: float SECONDS carry fractional-us
        # noise that cannot round-trip through the us-resolution output
        # timestamps (state doubles hold us values exactly: < 2^53)
        ts = (rows["ts"].astype("int64").to_numpy() // 1000).astype("int64")
        vals = rows["value"].to_numpy()
        # split the batch itself at > gap silences: a backfill or bursty
        # source delivers a user's whole history in one micro-batch, and
        # collapsing it to (min, max) would merge every session into one
        gap_us = gap * 1e6
        runs = []  # (start, end, n, total)
        run_s = 0
        for i in range(1, len(ts)):
            if ts[i] - ts[i - 1] > gap_us:
                seg = slice(run_s, i)
                runs.append(
                    (float(ts[run_s]), float(ts[i - 1]), i - run_s, float(vals[seg].sum()))
                )
                run_s = i
        runs.append(
            (float(ts[run_s]), float(ts[-1]), len(ts) - run_s, float(vals[run_s:].sum()))
        )
        closed = []
        if state.exists:
            (start, end, n, total) = state.get
            first = runs[0]
            if first[0] - end > gap_us:
                closed.append((start, end, n, total))
            else:
                runs[0] = (
                    min(start, first[0]),
                    max(end, first[1]),
                    n + first[2],
                    total + first[3],
                )
        # every run but the last is followed by a > gap silence: closed
        closed.extend(runs[:-1])
        start, end, n, total = runs[-1]
        state.update((start, end, n, total))
        state.setTimeoutDuration(int(gap * 1000))
        for (s, e, cn, ct) in closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(int(s), unit="us")],
                    "session_end": [pd.Timestamp(int(e), unit="us")],
                    "n_events": [cn],
                    "total_value": [ct],
                }
            )

    return (
        _ensure_event_time(events).withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


#: how long :func:`drain_and_stop` polls before it gives up; it only
#: matters when the stream does not drain
_DRAIN_TIMEOUT_S = 240.0


def drain_and_stop(query) -> bool:
    """Wait until an ``availableNow`` query has processed all the input
    available at its start, then stop it; True if it drained.

    A stateful query with processing-time timeouts (:func:`sessionize`)
    keeps scheduling empty micro-batches to evaluate its timers, so
    ``availableNow`` never ends it and ``processAllAvailable`` never
    settles. This polls the query's progress until a batch with no
    input follows one with input, or until the query ends by itself
    (re-raising its failure). The query is stopped either way; False
    means :data:`_DRAIN_TIMEOUT_S` passed first."""
    deadline = time.time() + _DRAIN_TIMEOUT_S
    drained = False
    while time.time() < deadline:
        if not query.isActive:
            query.awaitTermination()  # raises the query's failure, if any
            drained = True
            break
        progs = query.recentProgress
        if progs and progs[-1]["numInputRows"] == 0 and any(
            p["numInputRows"] > 0 for p in progs
        ):
            drained = True
            break
        time.sleep(0.5)
    query.stop()
    query.awaitTermination(60)
    return drained


def sessionize_batch(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Batch twin of :func:`sessionize`: gaps-and-islands over window
    functions. One shuffle total — the lag/cumsum windows and the
    final (user, session) aggregation all reuse the hash partitioning
    on ``user_col`` (HashPartitioning(user) satisfies clustering for
    (user, session_id), so Catalyst plans a single Exchange). Ordering
    ties on ``ts`` break by ``order_col`` so results are deterministic
    and SQL-oracle-replayable."""
    from pyspark.sql.window import Window

    events = _ensure_event_time(events, ts_col)
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    sec = F.col(ts_col).cast("double")
    brk = (
        (sec - F.lag(sec).over(w) > gap_minutes * 60.0)
        .cast("long")
    )
    sid = F.sum(F.coalesce(brk, F.lit(0))).over(w)
    return (
        events.withColumn("__sid", sid)
        .groupBy(F.col(user_col), F.col("__sid").alias("session_id"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col(value_col) * 1_000_000).cast("long")).alias(
                "value_micro"
            ),
        )
    )


def stream_dedup(
    events: DataFrame,
    id_cols: list | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: duplicates arriving
    within the watermark age are dropped; the key state ages out with
    the watermark — the only sustainable contract on an unbounded
    stream (an unconditional dropDuplicates would grow state forever).
    The batch twin is llm.dedup.exact_dedup; at 100 TB/day the state
    held is (distinct keys seen within the watermark window), not the
    corpus."""
    return _ensure_event_time(events).withWatermark(
        "ts", watermark
    ).dropDuplicatesWithinWatermark(id_cols or ["event_id"])


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (same
    directory-glob pattern as :func:`read_events_stream`): the shape
    of a continuously-arriving crawl/ingest feed."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return _stream_table(spark, schema, sf_dir, "documents.parquet")


def collect_benchmark_grams(
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    max_grams: int = 1_000_000,
) -> list:
    """Driver-side distinct word n-grams of a benchmark/eval set —
    the static side of streaming decontamination. Bounded by design:
    eval suites are tiny relative to the corpus (every published
    decontamination setup ships the benchmark n-gram set to the
    workers); the cap turns an accidental corpus-sized 'benchmark'
    into an error instead of a driver OOM."""
    from ..llm.repetition import word_ngrams

    rows = (
        bench.select(F.explode(word_ngrams(text_col, n)).alias("g"))
        .distinct()
        .limit(max_grams + 1)
        .collect()
    )
    if len(rows) > max_grams:
        raise ValueError(
            f"benchmark n-gram set exceeds max_grams={max_grams}; "
            "decontaminate against a set this large with the batch "
            "llm.prep.decontaminate join instead"
        )
    return sorted(r["g"] for r in rows)


def funnel_stages(
    events: DataFrame,
    steps: list,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Funnel analysis: the furthest ``steps`` prefix each user
    completed as a strictly-time-increasing ordered subsequence
    (view -> click -> purchase ...). Returns ``(user, stage)`` with
    stage in [0, len(steps)].

    Implementation is ONE groupBy(user) collecting the (ts, type)
    sequence sorted in-aggregate, then a LINEAR greedy fold with a
    higher-order ``aggregate`` — greedy earliest-match is optimal for
    subsequence embedding, so the result equals the quadratic
    EXISTS-chain formulation the SQL oracle replays, at O(events per
    user) instead of O(events^k). Ties in ``ts`` never advance two
    stages (strict > between consecutive matched steps), which keeps
    both formulations identical. Events with a NULL timestamp carry
    no temporal order and are excluded from the fold (letting them
    through would let the NULL-``last`` first-match branch chain
    stages with no ordering at all, diverging from the EXISTS-chain
    oracle) — but a user whose EVERY event is NULL-ts still gets a
    stage-0 row, so the user set matches the oracle's. One shuffle;
    per-user state is the sorted event array."""
    if not steps:
        raise ValueError("steps must be non-empty")
    k = len(steps)
    steps_arr = F.array(*[F.lit(s) for s in steps])
    ev = _ensure_event_time(events, ts_col)
    seq = ev.groupBy(F.col(user_col).alias("user")).agg(
        F.array_sort(
            # collect_list drops NULL entries, so NULL-ts events are
            # skipped without losing the user's row
            F.collect_list(
                F.when(
                    F.col(ts_col).isNotNull(),
                    F.struct(F.col(ts_col).alias("t"), F.col(type_col).alias("y")),
                )
            )
        ).alias("__seq")
    )
    init = F.struct(
        F.lit(0).alias("stage"), F.lit(None).cast("timestamp").alias("last")
    )

    def fold(acc, e):
        adv = (
            (acc["stage"] < k)
            & (e["y"] == F.element_at(steps_arr, acc["stage"] + 1))
            & (acc["last"].isNull() | (e["t"] > acc["last"]))
        )
        return F.when(
            adv,
            F.struct((acc["stage"] + 1).alias("stage"), e["t"].alias("last")),
        ).otherwise(acc)

    return seq.select(
        F.col("user").alias(user_col),
        F.aggregate(F.col("__seq"), init, fold)["stage"].alias("stage"),
    )


def stream_interval_join(
    points: DataFrame,
    intervals_from: DataFrame,
    key: str = "user_id",
    window_seconds: int = 86400,
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream INNER join with an event-time range condition:
    each arriving point row joins every ``intervals_from`` row of the
    same key whose ``[its, its + window_seconds]`` interval contains
    the point's ``ts`` — the streaming twin of
    :func:`~duckdb_geography_spark.temporal.interval_join`.

    This is the one join shape Structured Streaming can run unbounded:
    both sides watermarked and the join condition time-bounded, so the
    state store provably expires rows older than
    ``watermark + window_seconds`` — state size tracks the time window,
    not the stream length. An un-bounded condition (or missing
    watermark) would accumulate state forever; Spark rejects it in
    append mode.

    ``intervals_from`` columns arrive prefixed ``i_`` (its interval
    start is ``i_ts``) so self-joins of one source stream are
    unambiguous.
    """
    pt = _ensure_event_time(points).withWatermark("ts", watermark)
    iv = _ensure_event_time(intervals_from).select(
        *[F.col(c).alias(f"i_{c}") for c in intervals_from.columns]
    ).withWatermark("i_ts", watermark)
    cond = (
        (pt[key] == iv[f"i_{key}"])
        & (pt["ts"] >= iv["i_ts"])
        & (pt["ts"] <= iv["i_ts"] + F.expr(f"INTERVAL {int(window_seconds)} SECONDS"))
    )
    return pt.join(iv, cond, "inner").drop(f"i_{key}")


def stream_decontaminate(
    docs: DataFrame,
    bench_grams: list,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """STATELESS streaming decontamination: flag each arriving
    document that shares any word ``n``-gram with the benchmark set.

    The benchmark grams are a driver-captured literal
    (:func:`collect_benchmark_grams`), so the check is a pure Column
    ``arrays_overlap`` — no join, no aggregation, no watermark, no
    state; append-mode safe at any stream rate. This is the streaming
    twin of llm.prep.decontaminate (which joins instead of shipping a
    literal, for benchmark sets too large to broadcast)."""
    from ..llm.repetition import word_ngrams

    if not bench_grams:
        return docs.withColumn("contaminated", F.lit(False))
    flag = F.arrays_overlap(
        word_ngrams(text_col, n),
        F.lit([str(g) for g in bench_grams]),
    )
    return docs.withColumn("contaminated", F.coalesce(flag, F.lit(False)))


def windowed_neardup_owners(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    ts_col: str = "ts",
    n: int = 5,
    num_perm: int = 64,
    bands: int = 8,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    window_duration: str = "1 hour",
    watermark: str = "1 second",
) -> DataFrame:
    """Streaming near-dup bucket OWNERSHIP: each document's MinHash
    band buckets, grouped into tumbling event-time windows, with the
    earliest ``(ts, key)`` document as each bucket's owner.

    This is the streaming half of near-dup suppression expressed as
    ONE stateful operator (a windowed min-aggregation in append mode,
    deterministic by the ``min(struct(ts, key))`` tie-break — no
    arbitrary-survivor semantics). Feed the appended output to
    :func:`neardup_novel` (a plain batch aggregation over the sink)
    to get the documents that own ALL their buckets in their window —
    i.e. had no near-dup candidate earlier in the window.

    The signature is the single-expression map-side form
    (``llm.dedup.minhash_signature``): in streaming, the batch
    module's faster explode+groupBy signature would be a SECOND
    stateful aggregation, so the per-row expression is the right
    trade. State is bounded by (buckets per window) and ages out with
    the watermark.
    """
    from ..llm.dedup import minhash_signature

    assert num_perm % bands == 0
    rows = num_perm // bands
    d = _ensure_event_time(docs, ts_col).withWatermark(ts_col, watermark)
    sig = minhash_signature(text_col, n=n, num_perm=num_perm, seed=seed, hash_fn=hash_fn)
    banded = (
        d.select(
            F.col(key_col).alias("__key"),
            F.col(ts_col).alias("__ts"),
            sig.alias("__sig"),
        )
        .select(
            "__key",
            "__ts",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}), "
                    f"bi -> struct(bi AS band, "
                    f"concat_ws(',', slice(__sig, bi * {rows} + 1, {rows})) AS bk))"
                )
            ).alias("__b"),
        )
        .select(
            "__key", "__ts", F.col("__b.band").alias("band"), F.col("__b.bk").alias("bk")
        )
    )
    return (
        banded
        .groupBy(F.window("__ts", window_duration).alias("__w"), "band", "bk")
        .agg(F.min(F.struct(F.col("__ts"), F.col("__key"))).alias("__first"))
        .select(
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            "band",
            "bk",
            F.col("__first.__key").alias("owner"),
        )
    )


def neardup_novel(owners: DataFrame, bands: int = 8) -> DataFrame:
    """Batch finisher for :func:`windowed_neardup_owners`: documents
    that own ALL ``bands`` of their buckets within their window — no
    earlier in-window document shared any LSH bucket with them.
    Returns (window_start, doc_id)."""
    return (
        owners.groupBy("window_start", F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("__n_owned"))
        .where(F.col("__n_owned") == bands)
        .select("window_start", "doc_id")
    )


def windowed_hll_registers(
    events: DataFrame,
    key_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Streaming distinct-count sketch: per tumbling window, the
    HyperLogLog register table ``(window_start, reg, m_rho)`` — the
    classic bounded-state answer to "distinct users per hour" over an
    unbounded stream. The ``max`` aggregate keeps at most
    ``windows x 2^p`` rows of state (vs unbounded
    ``dropDuplicates`` key state for an exact streaming distinct), is
    micro-batch-order independent (max is commutative), and the sink
    table feeds :func:`duckdb_geography_spark.llm.sketch.hll_estimate`
    unchanged — the same register math as the batch sketch, so a
    batch replay over the same rows produces the identical table.
    """
    from ..llm.sketch import _check_p, hll_reg_rho

    _check_p(p)
    reg, rho = hll_reg_rho(key_col, p, hash_fn)
    ev = _ensure_event_time(events).where(F.col(key_col).isNotNull())
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), reg.alias("reg"))
        .agg(F.max(rho).alias("m_rho"))
        .select(F.col("w.start").alias("window_start"), "reg", "m_rho")
    )


_TOKEN_BUDGET_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("wc", LongType()),
        StructField("tokens_before", LongType()),
    ]
)

_TOKEN_BUDGET_STATE = StructType([StructField("consumed", LongType())])


def stream_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    strata_col: str = "source",
    token_col: str = "wc",
    key_col: str = "doc_id",
) -> DataFrame:
    """Streaming ADMISSION CONTROL to a per-stratum token budget: as
    documents arrive, each stratum (source, language) admits them
    until its cumulative token count reaches ``budget_tokens``, then
    drops everything after — the collection-side twin of the batch
    :func:`~..llm.prep.sample_to_token_budget` ("stop pulling from
    this crawl once we have N tokens of it").

    State per stratum is ONE long (tokens consumed so far) held
    forever by design — bounded by the stratum count, not the stream.
    Admission is ARRIVAL-ordered; within a micro-batch rows admit in
    ``key_col`` order so a replay of the same files in the same batch
    order reproduces the admitted set exactly (the gate's batch
    running-sum oracle relies on this). The crossing document is
    admitted (same overshoot-by-one contract as the batch op).
    Rows with NULL/non-positive token counts fail the stream loudly.
    """
    if budget_tokens < 1:
        raise ValueError("budget_tokens must be >= 1")
    budget = int(budget_tokens)

    def fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs)).sort_values(key_col)
        toks = rows[token_col].to_numpy()
        if len(toks) and (pd.isna(toks).any() or (toks <= 0).any()):
            raise ValueError(
                f"stream_token_budget: non-positive token count in stratum {key[0]!r}"
            )
        consumed = int(state.get[0]) if state.exists else 0
        keep_ids, keep_wc, keep_before = [], [], []
        for did, wc in zip(rows[key_col].to_numpy(), toks):
            if consumed >= budget:
                break
            keep_ids.append(int(did))
            keep_wc.append(int(wc))
            keep_before.append(consumed)
            consumed += int(wc)
        state.update((consumed,))
        if keep_ids:
            yield pd.DataFrame(
                {
                    "doc_id": keep_ids,
                    "source": [key[0]] * len(keep_ids),
                    "wc": keep_wc,
                    "tokens_before": keep_before,
                }
            )

    return docs.groupBy(strata_col).applyInPandasWithState(
        fn,
        outputStructType=_TOKEN_BUDGET_OUT,
        stateStructType=_TOKEN_BUDGET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
