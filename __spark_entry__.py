"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship covering-equi-join (customers in
nation polygons) on sf0.001. ``queries()`` exposes one entry per
implemented operator family from SURVEY.md S2 plus the LLM-pipeline
operators; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.

Oracle design notes (duckdb_geography_spark/synth.py holds the paired
derivations):
- lon/lat/cells derive from integer keys with arithmetic that is
  bit-identical in Spark and DuckDB;
- s2_cellfromlonlat's oracle is an independent recursive-CTE
  implementation of the S2 projection + Hilbert curve (validated
  bit-exact);
- double aggregations route through integer cents so sums are exact
  and order-independent in both engines;
- queries whose semantics a SQL oracle cannot express (coverer
  internals, minhash/simhash signatures involving xxhash64) are
  registered without an oracle -> the driver records rows-only checks.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _prep(spark: SparkSession):
    from duckdb_geography_spark.session import attach

    attach(spark)
    # the driver's parquet uses TIMESTAMP(NANOS) which Spark rejects;
    # read them as epoch-nanos longs and convert in _t
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pin the session timezone so LTZ window boundaries and rendered
    # wall clocks are deterministic wherever the driver runs (the
    # oracle compares naive DuckDB strings against date_format output)
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: columns stored as TIMESTAMP(NANOS) in the driver's parquet
_NANO_TS = {"ts", "o_orderdate", "l_shipdate"}


def _oracle_sf_dir() -> str:
    """The scale-factor dir the oracle SQL generators read their
    driver-side training samples from (trained IVF / k-means replay /
    PQ codebooks / JL signs). The driver's correctness run compares at
    sf0.01, the default; scripts/check_gates.py and check_oracle.py
    export SPARK_GRAFT_ORACLE_SF_DIR so the SAME gates verify at
    .scale/sf1 and beyond (the Spark side trains on whatever sf_dir it
    is given, so the oracle must replay training from that dir too)."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


_ROWS_CACHE: dict = {}


def _rows_at(sf_dir: str, table: str) -> int:
    """Parquet-metadata row count (footer read only, no scan). The
    memo key includes each file's (mtime_ns, size) so an in-process
    scale-data regen invalidates the entry (r10 ADVICE: a stale count
    would silently skew the bounded-gate knobs vs an oracle built in a
    fresh process)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    path = f"{sf_dir}/{table}.parquet"
    files = (
        sorted(_glob.glob(f"{path}/*.parquet"))
        if os.path.isdir(path)
        else [path]
    )
    stamp = tuple((os.stat(f).st_mtime_ns, os.stat(f).st_size) for f in files)
    key = (sf_dir, table, stamp)
    hit = _ROWS_CACHE.get(key)
    if hit is None:
        hit = _ROWS_CACHE[key] = sum(
            _pq.ParquetFile(f).metadata.num_rows for f in files
        )
    return hit


_QVEC_CACHE: dict = {}

#: entry bound of the driver-side memo dicts (_QVEC_CACHE, _T_CACHE)
_MEMO_MAX = 64


def _memo_put(cache: dict, key, val):
    """Store ``val`` under ``key``, first evicting the oldest entry
    (dict order) when the memo holds _MEMO_MAX: stamp-keyed entries
    strand after a data regen, and a long-lived process cycling
    sessions or sf dirs must not accumulate plans, but the entries in
    use stay warm."""
    if len(cache) >= _MEMO_MAX:
        del cache[next(iter(cache))]
    cache[key] = val
    return val


def _query_vec(sf_dir: str, vec_id: int = 0) -> list:
    """Driver-side fetch of ONE query vector from embeddings.parquet —
    a footer-pruned row-group read, no Spark job (r11, guide §1/§5:
    eight ANN gates fetched vec_id 0's embedding through a
    `.collect()`, paying a full scheduler round trip per bench pass
    for a single-row dimension lookup; same driver-side pattern as
    _nation_covering_df). Row-group statistics prune the read at any
    scale; the memo is stamped like _ROWS_CACHE so a data regen
    invalidates it. Returns the same Python floats Spark's collect()
    produced (float32 -> double widening is exact)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    path = f"{sf_dir}/embeddings.parquet"
    files = (
        sorted(_glob.glob(f"{path}/*.parquet"))
        if os.path.isdir(path)
        else [path]
    )
    stamp = tuple((os.stat(f).st_mtime_ns, os.stat(f).st_size) for f in files)
    key = (sf_dir, int(vec_id), stamp)
    hit = _QVEC_CACHE.get(key)
    if hit is None:
        t = _pq.read_table(
            path,
            columns=["vec_id", "embedding"],
            filters=[("vec_id", "==", int(vec_id))],
        )
        if t.num_rows == 0:
            raise KeyError(f"vec_id {vec_id} not in {path}")
        hit = _memo_put(_QVEC_CACHE, key, [float(x) for x in t["embedding"][0].as_py()])
    return list(hit)


def _bounded_gates() -> bool:
    """Seven gates' ORACLES are output-quadratic by construction
    (all-pairs emission / recursive-CTE closure / full-chain replay),
    so their DuckDB sides cannot replay sf1 full-value even though the
    Spark operators complete fine (SCALE_GATES_r9_sf1.txt). When
    SPARK_GRAFT_BOUNDED_GATES=1 (exported by scripts/check_oracle.py),
    those gates derive a bounding knob from the DATA SIZE — a
    deterministic 1-in-m modulo input sample, or a distance threshold
    shrunk so expected pair volume stays constant — applied IDENTICALLY
    on the Spark and oracle sides. The knob is exactly 1 (a no-op) at
    the driver's sf0.01, and the flag defaults OFF so bench.py's
    workload per query is unchanged round-over-round."""
    return os.environ.get("SPARK_GRAFT_BOUNDED_GATES") == "1"


def _bounded_mod(sf_dir: str, table: str, base: int = 500) -> int:
    """1-in-m deterministic sampling modulus for the output-quadratic
    gates: m ~ rows/base keeps the sampled input at sf0.01 size (base
    = the sf0.01 row count of documents/embeddings), so pair volume —
    and therefore oracle cost — stays bounded at any sf."""
    if not _bounded_gates():
        return 1
    return max(1, round(_rows_at(sf_dir, table) / base))


def _haversine_threshold_m(sf_dir: str) -> float:
    """Distance cutoff for the haversine_pairs gate. Qualifying pairs
    scale ~ n_c * n_s * threshold^2 (near-uniform synthetic points),
    so shrinking the threshold by sqrt(pair growth) holds the output
    row count ~constant. Exactly 2,000 km at the driver's sf0.01
    (sqrt(1.0) == 1.0 — bit-stable)."""
    if not _bounded_gates():
        return 2_000_000.0
    import math as _math

    pairs = _rows_at(sf_dir, "customer") * _rows_at(sf_dir, "supplier")
    return 2_000_000.0 / _math.sqrt(pairs / 150_000.0)


#: per-session memo of table DataFrames: `spark.read.parquet` costs
#: ~0.3s of driver time (footer/schema read) per call, and a query
#: suite re-reads the same tables constantly. DataFrames are immutable
#: plans, so reuse is safe — this is what a catalog-registered table
#: gives a production job for free.
_T_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # applicationId (not id(spark)): a stopped session's id() can be
    # reused by CPython for the next session, which would serve plans
    # bound to a dead SparkContext
    key = (spark.sparkContext.applicationId, sf_dir, name)
    hit = _T_CACHE.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name in _NANO_TS and field.dataType.simpleString() == "bigint":
            # integer division: double's 53-bit mantissa cannot hold
            # current-era nanos, so (col / 1000) would shift many
            # timestamps by 1 us
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    # the test-fixture parquet is one row group per table, so the scan
    # is a single partition and ALL map-side work (codegen expressions,
    # explodes, Python UDF stages) runs on one core until the first
    # shuffle. A real 100 TB table arrives in thousands of splits; the
    # cheap round-robin repartition here just restores the parallelism
    # a production scan gets for free — but only for the tables whose
    # queries do heavy per-row map work (geometry/cell UDFs, shingle
    # explodes, vector math) BEFORE their first shuffle. Tables that go
    # straight into a hash join/agg (lineitem, orders, events...) reach
    # a 32-way exchange immediately, and an extra round-robin shuffle
    # would only add a barrier. Tiny dimensions are broadcast anyway.
    if name in ("documents", "embeddings", "customer", "supplier"):
        ncpu = spark.sparkContext.defaultParallelism
        df = df.repartition(ncpu)
    return _memo_put(_T_CACHE, key, df)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

#: per-process memo of driver-side nation coverings, keyed by
#: (sf_dir, level, buffer): the dimension table is tiny and static, so
#: repeated queries in one session skip the coverer entirely
_NATION_COV_CACHE: dict = {}


def _nation_covering_df(spark, sf_dir, level, buffer_radians):
    """(n_nationkey, __cell) covering rows for the 25 synthetic nation
    rects, computed on the driver (tiny dimension; no encode, no
    Python stages) and returned as a literal DataFrame for broadcast."""
    key = (sf_dir, level, buffer_radians)
    rows = _NATION_COV_CACHE.get(key)
    if rows is None:
        from duckdb_geography_spark.geo.geography import from_wkt
        from duckdb_geography_spark.s2.coverer import covering_of_geography

        import pandas as _pd

        # 25-row dimension: read it driver-side (no Spark job)
        keys = _pd.read_parquet(
            f"{sf_dir}/nation.parquet", columns=["n_nationkey"]
        )["n_nationkey"].tolist()
        rows = []
        for k in keys:
            xmin = (k % 6) * 60.0 - 180.0
            ymin = (k // 6) * 30.0 - 60.0
            wkt = (
                f"POLYGON (({xmin:.0f} {ymin:.0f}, {xmin + 55:.0f} {ymin:.0f}, "
                f"{xmin + 55:.0f} {ymin + 25:.0f}, {xmin:.0f} {ymin + 25:.0f}, "
                f"{xmin:.0f} {ymin:.0f}))"
            )
            cells = covering_of_geography(
                from_wkt(wkt), fixed_level=level, buffer_radians=buffer_radians
            )
            rows.extend((int(k), int(c)) for c in cells.view("int64"))
        _NATION_COV_CACHE[key] = rows
    import pandas as pd

    # hand Spark a pandas frame: the Arrow conversion path turns it
    # into a LocalRelation directly — a plain python list would build a
    # Python RDD whose evaluation forks a plain-python worker per task
    # (a second worker pool!) just to materialize the broadcast side
    pdf = pd.DataFrame(rows, columns=["n_nationkey", "__cell"]).astype(
        {"n_nationkey": "int32", "__cell": "int64"}
    )
    return spark.createDataFrame(pdf)


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers-in-nation-rectangles via buffered covering equi-join
    + exact box refine (SURVEY.md S4.3 covering-join recipe)."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        synth.cust_lon().alias("lon"),
        synth.cust_lat().alias("lat"),
    )
    nation = _t(spark, sf_dir, "nation")
    xmin, ymin, xmax, ymax = synth.nation_box()
    nations = nation.select(
        "n_nationkey",
        "n_name",
        xmin.alias("xmin"),
        ymin.alias("ymin"),
        xmax.alias("xmax"),
        ymax.alias("ymax"),
    )
    # covering equi-join: nation polygons (geodesic) covered with a
    # buffer >= the geodesic-vs-parallel bulge, so the box refine is a
    # strict filter of a guaranteed superset. The dimension side is 25
    # rows: compute its coverings ON THE DRIVER (from_wkt + fixed-level
    # coverer directly — no encode, no adaptive embedded covering, no
    # Python shuffle stages) and broadcast the literal (key, cell)
    # table. At 1000 executors this is exactly what you want: tiny dim
    # prepared once, fact side untouched.
    level = 4
    r = F.broadcast(_nation_covering_df(spark, sf_dir, level, 0.07))
    # one UDF evaluation on the big side — via a TWO-STEP projection
    # (r11, guide §4.4): s2_cell_parent references its argument ~11
    # times (level/validity/bit math), and composing the Arrow UDF
    # inline inlined the call per reference — the executed plan ran
    # ArrowEvalPython with ELEVEN copies of the same _cellfromlonlat
    # call (11x the Python-boundary work). Projecting the leaf into
    # its own column first leaves exactly one evaluation:
    # CollapseProject refuses to re-inline a non-cheap expression
    # referenced more than once (plan-asserted in
    # tests/test_r11_optimizations.py).
    p = cust.withColumn(
        "__leaf", C.s2_cellfromlonlat("lon", "lat")
    ).select(
        "c_custkey",
        "lon",
        "lat",
        C.s2_cell_parent("__leaf", level).alias("__cell"),
    )
    cand = p.join(F.broadcast(r), "__cell").drop("__cell")
    refined = cand.join(F.broadcast(nations), "n_nationkey").where(
        (F.col("lon") >= F.col("xmin"))
        & (F.col("lon") <= F.col("xmax"))
        & (F.col("lat") >= F.col("ymin"))
        & (F.col("lat") <= F.col("ymax"))
    )
    return (
        refined.groupBy("n_nationkey", "n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_nationkey")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


FLAGSHIP_ORACLE = """
SELECT n.n_nationkey, n.n_name, count(*) AS n_customers
FROM customer c
JOIN nation n
  ON ((c.c_custkey * 2654435761 % 360000) / 1000.0 - 180.0) >= ((n.n_nationkey % 6) * 60.0 - 180.0)
 AND ((c.c_custkey * 2654435761 % 360000) / 1000.0 - 180.0) <= ((n.n_nationkey % 6) * 60.0 - 180.0) + 55.0
 AND ((c.c_custkey * 40503 % 180000) / 1000.0 - 90.0) >= (floor(n.n_nationkey / 6) * 30.0 - 60.0)
 AND ((c.c_custkey * 40503 % 180000) / 1000.0 - 90.0) <= (floor(n.n_nationkey / 6) * 30.0 - 60.0) + 25.0
GROUP BY n.n_nationkey, n.n_name
ORDER BY n.n_nationkey
"""


# ---------------------------------------------------------------------------
# host-engine analytics (SURVEY.md S2.9 surface)
# ---------------------------------------------------------------------------


def _q_pricing_summary(spark, sf_dir):
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).alias("sum_qty_c"),
            F.sum(cents("l_extendedprice")).alias("sum_base_c"),
            F.sum(cents("l_extendedprice") * cents("l_discount")).alias("sum_disc_cc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS sum_disc_cc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q_top_orders(spark, sf_dir):
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")) * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    # dimension-first join order: the segment filter cuts customer to
    # ~1/5, broadcasting it prunes orders map-side, and the pruned
    # orders broadcast into lineitem — the 600k-row fact table never
    # shuffles before the partial aggregation (at 100 TB the same plan
    # holds as long as orders-per-segment fits the broadcast budget;
    # otherwise AQE falls back to a shuffle join on the same tree)
    bld = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ob = orders.join(
        F.broadcast(bld), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "o_orderdate")
    # group on the RAW date and format after the aggregate (r12, guide
    # §2.3): o_orderkey determines o_orderdate (orders PK), so the
    # groups are identical — but the per-lineitem-row date_format and
    # the 19-char string in the shuffle key are gone (the partial-agg
    # key narrows from string to date)
    return (
        li.join(F.broadcast(ob), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("revenue_cc"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate_s"),
            "revenue_cc",
        )
        .orderBy(F.desc("revenue_cc"), "o_orderkey")
        .limit(10)
    )


_TOP_ORDERS_SQL = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_s,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_cc
FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
ORDER BY revenue_cc DESC, o_orderkey
LIMIT 10
"""


def _q_events_hourly(spark, sf_dir):
    _prep(spark)
    # group on the raw truncated TIMESTAMP and format after the
    # aggregate (r12, guide §2.3): date_format on hour-truncated
    # timestamps is injective (full seconds precision in the pattern),
    # so the groups — and therefore every output row — are identical,
    # but the per-event-row string formatting is gone and the shuffle
    # key narrows from a 19-char string to an 8-byte timestamp. That
    # holds only in a zone without DST, which _prep's UTC pin provides:
    # under a DST zone the repeated autumn hour formats two instants to
    # one string and the query would emit two rows for it.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise RuntimeError(
            f"events_hourly needs spark.sql.session.timeZone=UTC (as _prep sets it), "
            f"got {tz!r}: under a DST zone its hour groups would not be unique"
        )
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("__hour_ts"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("value_micro"),
        )
        .select(
            F.date_format("__hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "value_micro",
        )
        .orderBy("hour", "event_type")
    )


_EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
  count(*) AS n,
  CAST(sum(CAST(round(value*1000000) AS BIGINT)) AS BIGINT) AS value_micro
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _q_region_rollup(spark, sf_dir):
    _prep(spark)
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("acctbal_c"),
        )
        .orderBy("r_name")
    )


_REGION_ROLLUP_SQL = """
SELECT r_name, count(*) AS n_customers,
  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS acctbal_c
FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# ---------------------------------------------------------------------------
# cell operators (SURVEY.md S2.7)
# ---------------------------------------------------------------------------


def _q_cell_bitops(spark, sf_dir):
    """Pure-JVM cell bit ops, built as selectExpr SQL STRINGS.

    The Column-API version of this query spent 1.3-2.9s of DRIVER time
    constructing the expression trees (every C.s2_cell_* helper is
    dozens of Py4J round trips) against ~0.35s of actual execution at
    sf0.1. A handful of selectExpr strings hand the whole tree to the
    JVM parser in 3 calls; semantics are identical to the Column
    helpers in functions/cells.py (same long-domain bit math — the
    sf0.01 oracle hash is the proof)."""
    _prep(spark)
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    # level-5 constants (cells.py::s2_cell_parent math)
    lsb5 = 1 << (2 * (30 - 5))
    mask5 = (~(2 * lsb5 - 1)) & 0xFFFFFFFFFFFFFFFF
    mask5 = mask5 - (1 << 64) if mask5 >= (1 << 63) else mask5
    q5 = lsb5 // 4
    # shiftleft instead of multiply: face 4/5 << 61 wraps negative,
    # which ANSI-mode multiplication would reject as overflow
    cell = (
        "(shiftleft(CAST(c_custkey % 6 AS BIGINT), 61)"
        " + (c_custkey * 2654435761L % 1152921504606846976L) * 2 + 1)"
    )
    dec = "CAST(conv(rpad(token, 16, '0'), 16, 10) AS DECIMAL(20,0))"
    tok_rt = (
        f"CAST(CASE WHEN {dec} > CAST('9223372036854775807' AS DECIMAL(20,0)) "
        f"THEN {dec} - CAST('18446744073709551616' AS DECIMAL(21,0)) "
        f"ELSE {dec} END AS BIGINT)"
    )
    return (
        cust.selectExpr("c_custkey", f"{cell} AS cell")
        .selectExpr(
            "c_custkey",
            "cell",
            "CAST(30 - (bit_count((cell & -cell) - 1) div 2) AS INT) AS level",
            f"((cell & {mask5}L) | {lsb5}L) AS parent5",
            "CASE WHEN cell = 0 THEN 'X' ELSE "
            "regexp_replace(lpad(lower(hex(cell)), 16, '0'), '0+$', '') END AS token",
        )
        .selectExpr(
            "c_custkey",
            "cell",
            "level",
            "parent5",
            "(parent5 - (parent5 & -parent5) + 1) AS rmin5",
            "(parent5 + (parent5 & -parent5) - 1) AS rmax5",
            "token",
            f"{tok_rt} AS token_rt",
            "(parent5 - (parent5 & -parent5) + 1 <= cell "
            "AND cell <= parent5 + (parent5 & -parent5) - 1) AS parent_contains",
            f"(parent5 - {lsb5}L + {q5}L) AS child0",
            f"(parent5 - {lsb5}L + {q5}L + 2L * {q5}L * 3) AS child3",
        )
        .selectExpr(
            "*",
            # intersects = contains either way (ranges in the signed
            # domain: operands share their face bits here)
            "((parent5 - (parent5 & -parent5) + 1 <= cell AND cell <= parent5 + (parent5 & -parent5) - 1)"
            " OR (cell - (cell & -cell) + 1 <= parent5 AND parent5 <= cell + (cell & -cell) - 1)) AS inter_pc",
            "((child0 - (child0 & -child0) + 1 <= child3 AND child3 <= child0 + (child0 & -child0) - 1)"
            " OR (child3 - (child3 & -child3) + 1 <= child0 AND child0 <= child3 + (child3 & -child3) - 1)) AS inter_cc",
        )
        .select(
            "c_custkey", "cell", "level", "parent5", "rmin5", "rmax5",
            "token", "token_rt", "parent_contains",
            "child0", "child3", "inter_pc", "inter_cc",
        )
        .orderBy("c_custkey")
    )


def _cell_bitops_sql():
    from duckdb_geography_spark import synth

    cell = synth.key_cell_sql_expr("c_custkey")
    p5 = synth.cell_parent_sql(cell, 5)
    return f"""
SELECT c_custkey,
  {cell} AS cell,
  CAST({synth.cell_level_sql(cell)} AS INTEGER) AS level,
  {p5} AS parent5,
  {synth.cell_range_min_sql(p5)} AS rmin5,
  {synth.cell_range_max_sql(p5)} AS rmax5,
  {synth.cell_token_sql(cell)} AS token,
  {cell} AS token_rt,
  ({synth.cell_range_min_sql(p5)} <= {cell} AND {cell} <= {synth.cell_range_max_sql(p5)}) AS parent_contains,
  {synth.cell_child_sql(p5, 0)} AS child0,
  {synth.cell_child_sql(p5, 3)} AS child3,
  {synth.cell_intersects_sql(p5, cell)} AS inter_pc,
  {synth.cell_intersects_sql(synth.cell_child_sql(p5, 0), synth.cell_child_sql(p5, 3))} AS inter_cc
FROM customer ORDER BY c_custkey
"""


def _q_cellfromlonlat(spark, sf_dir):
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", synth.cust_lon().alias("lon"), synth.cust_lat().alias("lat")
    )
    leaf = C.s2_cellfromlonlat("lon", "lat")
    # materialize the UDF column once, then derive token10 with ONE
    # selectExpr string (the Column-helper tree cost driver time; the
    # parent/token math is plain long/string expressions)
    lsb10 = 1 << (2 * (30 - 10))
    mask10 = (~(2 * lsb10 - 1)) & 0xFFFFFFFFFFFFFFFF
    mask10 = mask10 - (1 << 64) if mask10 >= (1 << 63) else mask10
    return (
        cust.select("c_custkey", leaf.alias("cell"))
        .selectExpr(
            "c_custkey",
            "cell",
            "CASE WHEN cell = 0 THEN 'X' ELSE regexp_replace(lpad(lower(hex("
            f"(cell & {mask10}L) | {lsb10}L)), 16, '0'), '0+$', '') END AS token10",
        )
        .orderBy("c_custkey")
    )


def _cellfromlonlat_sql():
    from duckdb_geography_spark import synth

    pts = (
        f"SELECT c_custkey AS k, {synth.CUST_LON_SQL} AS lon, {synth.CUST_LAT_SQL} AS lat "
        "FROM customer"
    )
    p10 = synth.cell_parent_sql("cell", 10)
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(pts)}
SELECT k AS c_custkey, cell,
  {synth.cell_token_sql(p10)} AS token10
FROM cellids ORDER BY k
"""


def _q_cell_containment(spark, sf_dir):
    """Range-containment join: customer leaf cells inside each
    nation's synthetic level-2 cell (pure-Column range predicates)."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", synth.cust_lon().alias("lon"), synth.cust_lat().alias("lat")
    )
    pts = cust.select("c_custkey", C.s2_cellfromlonlat("lon", "lat").alias("cell"))
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", C.s2_cell_parent(synth.key_cell("n_nationkey"), 2).alias("ncell")
    )
    # every nation cell is exactly level 2, so "ncell contains leaf" is
    # equivalent to "parent(leaf, 2) == ncell" — an EQUI-join key, which
    # hashes (broadcast today, shuffle at scale) instead of the
    # BroadcastNestedLoopJoin a range predicate would force. The general
    # mixed-level range join lives in joins.cell_containment_join.
    joined = pts.withColumn("__p2", C.s2_cell_parent(F.col("cell"), 2)).join(
        F.broadcast(nation), F.col("__p2") == F.col("ncell")
    )
    return (
        joined.groupBy("n_nationkey")
        .agg(F.count("*").alias("n_inside"))
        .orderBy("n_nationkey")
    )


def _cell_containment_sql():
    from duckdb_geography_spark import synth

    pts = (
        f"SELECT c_custkey AS k, {synth.CUST_LON_SQL} AS lon, {synth.CUST_LAT_SQL} AS lat "
        "FROM customer"
    )
    ncell = synth.cell_parent_sql(synth.key_cell_sql_expr("n_nationkey"), 2)
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(pts)}
SELECT n.n_nationkey, count(*) AS n_inside
FROM cellids c JOIN nation n
  ON {synth.cell_range_min_sql(ncell)} <= c.cell
 AND c.cell <= {synth.cell_range_max_sql(ncell)}
GROUP BY n.n_nationkey ORDER BY n.n_nationkey
"""


# ---------------------------------------------------------------------------
# geography operators
# ---------------------------------------------------------------------------


def _q_pip_join(spark, sf_dir):
    return _flagship(spark, sf_dir)


def _q_wkt_roundtrip(spark, sf_dir):
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.io import s2_format, s2_geogfromtext

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", synth.cust_ilon().alias("ilon"), synth.cust_ilat().alias("ilat")
    )
    wkt = F.format_string("POINT (%d %d)", F.col("ilon"), F.col("ilat"))
    return cust.select(
        "c_custkey", s2_format(s2_geogfromtext(wkt), 6).alias("wkt6")
    ).orderBy("c_custkey")


def _wkt_roundtrip_sql():
    from duckdb_geography_spark import synth

    return f"""
SELECT c_custkey,
  'POINT (' || {synth.CUST_ILON_SQL}
  || ' ' || {synth.CUST_ILAT_SQL} || ')' AS wkt6
FROM customer ORDER BY c_custkey
"""


def _q_rect_measures(spark, sf_dir):
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.accessors import s2_area, s2_perimeter
    from duckdb_geography_spark.functions.io import s2_geogfromtext

    _prep(spark)
    nation = _t(spark, sf_dir, "nation")
    g = s2_geogfromtext(synth.nation_wkt())
    return nation.select(
        "n_nationkey",
        F.round(s2_area(g)).cast("long").alias("area_m2"),
        F.round(s2_perimeter(g)).cast("long").alias("perimeter_m"),
    ).orderBy("n_nationkey")


def _rect_measures_sql():
    from duckdb_geography_spark import synth

    # Van Oosterom-Strackee fan over the rect's two triangles, plus
    # chord-angle perimeter — the same math the engine runs in numpy.
    return f"""
WITH corners AS (
  SELECT n_nationkey,
    radians({synth.NATION_XMIN_SQL}) AS lx, radians({synth.NATION_YMIN_SQL}) AS ly,
    radians({synth.NATION_XMAX_SQL}) AS hx, radians({synth.NATION_YMAX_SQL}) AS hy
  FROM nation),
v AS (
  SELECT n_nationkey,
    cos(ly)*cos(lx) AS x0, cos(ly)*sin(lx) AS y0, sin(ly) AS z0,
    cos(ly)*cos(hx) AS x1, cos(ly)*sin(hx) AS y1, sin(ly) AS z1,
    cos(hy)*cos(hx) AS x2, cos(hy)*sin(hx) AS y2, sin(hy) AS z2,
    cos(hy)*cos(lx) AS x3, cos(hy)*sin(lx) AS y3, sin(hy) AS z3
  FROM corners),
tri AS (
  SELECT n_nationkey,
    2*atan2(
      x0*(y1*z2 - z1*y2) - y0*(x1*z2 - z1*x2) + z0*(x1*y2 - y1*x2),
      1 + (x0*x1+y0*y1+z0*z1) + (x1*x2+y1*y2+z1*z2) + (x2*x0+y2*y0+z2*z0)
    ) AS e1,
    2*atan2(
      x0*(y2*z3 - z2*y3) - y0*(x2*z3 - z2*x3) + z0*(x2*y3 - y2*x3),
      1 + (x0*x2+y0*y2+z0*z2) + (x2*x3+y2*y3+z2*z3) + (x3*x0+y3*y0+z3*z0)
    ) AS e2,
    2*asin(least(1.0, 0.5*sqrt((x0-x1)*(x0-x1)+(y0-y1)*(y0-y1)+(z0-z1)*(z0-z1)))) AS s01,
    2*asin(least(1.0, 0.5*sqrt((x1-x2)*(x1-x2)+(y1-y2)*(y1-y2)+(z1-z2)*(z1-z2)))) AS s12,
    2*asin(least(1.0, 0.5*sqrt((x2-x3)*(x2-x3)+(y2-y3)*(y2-y3)+(z2-z3)*(z2-z3)))) AS s23,
    2*asin(least(1.0, 0.5*sqrt((x3-x0)*(x3-x0)+(y3-y0)*(y3-y0)+(z3-z0)*(z3-z0)))) AS s30
  FROM v)
SELECT n_nationkey,
  CAST(round(abs(e1+e2) * 6371010.0 * 6371010.0) AS BIGINT) AS area_m2,
  CAST(round((s01+s12+s23+s30) * 6371010.0) AS BIGINT) AS perimeter_m
FROM tri ORDER BY n_nationkey
"""


def _q_haversine_pairs(spark, sf_dir):
    """Distance join customer x supplier within 2,000 km — pure-Column
    great-circle math (the pointwise fast path of s2_distance). Under
    SPARK_GRAFT_BOUNDED_GATES the cutoff shrinks with the data so the
    qualifying-pair volume (and the oracle's) stays ~constant."""
    from duckdb_geography_spark import synth

    _prep(spark)
    thr = _haversine_threshold_m(sf_dir)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", synth.cust_lon().alias("clon"), synth.cust_lat().alias("clat")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", synth.supp_lon().alias("slon"), synth.supp_lat().alias("slat")
    )
    p1, l1 = F.radians("clat"), F.radians("clon")
    p2, l2 = F.radians("slat"), F.radians("slon")
    h = (
        F.sin((p2 - p1) / 2) ** 2
        + F.cos(p1) * F.cos(p2) * F.sin((l2 - l1) / 2) ** 2
    )
    dist = F.lit(2.0) * F.asin(F.least(F.lit(1.0), F.sqrt(h))) * F.lit(6371010.0)
    # lat-band equi-join, not a cross join: |dlat| lower-bounds the
    # great-circle distance, so a pair within the cutoff differs by at
    # most cutoff/111.195 km-per-deg of latitude; bucketing lat into
    # bands one notch wider (cutoff/100 km-per-deg) and exploding the
    # supplier side to (band-1, band, band+1) makes every qualifying
    # pair land in exactly one equi-join match (customer's band is
    # unique), with a provable superset of the answer. At 100x the
    # data this stays a shuffle/broadcast hash join — no
    # BroadcastNestedLoopJoin anywhere in the plan.
    band_deg = max(0.05, thr / 100_000.0)
    band = lambda c: F.floor(c / F.lit(band_deg)).cast("long")  # noqa: E731
    c_b = cust.withColumn("__band", band(F.col("clat")))
    s_b = supp.withColumn(
        "__band", F.explode(F.array(*[band(F.col("slat")) + F.lit(d) for d in (-1, 0, 1)]))
    )
    # broadcast hint guarded by the parquet-footer row count (zero-cost
    # probe, VERDICT r10 item 5): the 3x-exploded supplier side is 3
    # doubles + a long per row, so 250k base rows ~ 25 MB broadcast
    # (r12, VERDICT r11 item 10: the old 1M-row cap allowed ~100 MB —
    # an order over the autoBroadcast default, real executor-memory
    # pressure with many concurrent queries); a bigger supplier table
    # falls back to the shuffle hash band join
    if _rows_at(sf_dir, "supplier") <= 250_000:
        s_b = F.broadcast(s_b)
    return (
        c_b.join(s_b, "__band")
        .where(dist <= F.lit(thr))
        .select("c_custkey", "s_suppkey", F.round(dist).cast("long").alias("dist_m"))
        .orderBy("c_custkey", "s_suppkey")
    )


def _haversine_sql():
    # the same lat-band equi-join as the Spark side (band values are
    # join-internal, never output, so each engine only needs its own
    # superset correctness) — keeps the oracle near-linear instead of
    # a |customer| x |supplier| cross join at sf1+
    thr = _haversine_threshold_m(_oracle_sf_dir())
    band_deg = max(0.05, thr / 100_000.0)
    return f"""
WITH c AS (SELECT c_custkey,
    (c_custkey * 40503 % 180000) / 1000.0 - 90.0 AS clat,
    radians((c_custkey * 40503 % 180000) / 1000.0 - 90.0) AS p1,
    radians((c_custkey * 2654435761 % 360000) / 1000.0 - 180.0) AS l1
  FROM customer),
s AS (SELECT s_suppkey,
    (s_suppkey * 20261 % 180000) / 1000.0 - 90.0 AS slat,
    radians((s_suppkey * 20261 % 180000) / 1000.0 - 90.0) AS p2,
    radians((s_suppkey * 1327217885 % 360000) / 1000.0 - 180.0) AS l2
  FROM supplier),
cb AS (SELECT c_custkey, p1, l1,
    CAST(floor(clat / {band_deg!r}) AS BIGINT) AS band FROM c),
sb AS (SELECT s_suppkey, p2, l2,
    CAST(floor(slat / {band_deg!r}) AS BIGINT) + dd.d AS band
  FROM s CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS d) dd),
d AS (SELECT c_custkey, s_suppkey,
    2.0 * asin(least(1.0, sqrt( sin((p2-p1)/2)^2 + cos(p1)*cos(p2)*sin((l2-l1)/2)^2 ))) * 6371010.0 AS dist
  FROM cb JOIN sb USING (band))
SELECT c_custkey, s_suppkey, CAST(round(dist) AS BIGINT) AS dist_m
FROM d WHERE dist <= {thr!r}
ORDER BY c_custkey, s_suppkey
"""


def _q_covering_sizes(spark, sf_dir):
    """Adaptive coverings of nation polygons, exploded to cell tokens.
    The oracle pins the expected cell lists as a literal table —
    coverings are deterministic, and the coverer's reference parity is
    separately proven by the Fiji golden (bounds.test:8-16)."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.bounds import s2_covering
    from duckdb_geography_spark.functions.cells import s2_cell_token
    from duckdb_geography_spark.functions.io import s2_geogfromtext

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    g = s2_geogfromtext(synth.nation_wkt())
    return (
        nation.select("n_nationkey", F.explode(s2_covering(g)).alias("__cell"))
        .select("n_nationkey", s2_cell_token("__cell").alias("cell_token"))
        .orderBy("n_nationkey", "cell_token")
    )


#: expected adaptive coverings (max_cells=8) of the 25 synthetic nation
#: rects — recorded golden, stable because coverings are deterministic
_COVERING_GOLDEN = [
    (0, "73"), (0, "75"), (0, "9fc"), (0, "a1"), (0, "a3c"), (0, "a41"), (0, "a7"),
    (0, "a89e029fd558aa81"),
    (1, "95c"), (1, "97"), (1, "99"), (1, "9f4"), (1, "a1c"), (1, "a3"), (1, "bd"),
    (1, "be1"),
    (2, "01"), (2, "03"), (2, "954"), (2, "95c"), (2, "b9"), (2, "bbf"), (2, "bd"),
    (2, "bf"),
    (3, "02c"), (3, "1d4"), (3, "1dc"), (3, "1f"), (3, "204"), (3, "b4"), (3, "b84"),
    (3, "b9d"),
    (4, "20c"), (4, "27"), (4, "29"), (4, "2a4"), (4, "ab5"), (4, "ad"), (4, "b3"),
    (4, "b4c"),
    (5, "2a4"), (5, "2ac"), (5, "6b"), (5, "6d"), (5, "a9"), (5, "ab"), (5, "ad"),
    (5, "aeb"),
    (6, "74"), (6, "9d4"), (6, "9dc"), (6, "9e4"), (6, "9fc"),
    (7, "91"), (7, "93"), (7, "944"), (7, "97"), (7, "99"), (7, "9b"), (7, "9d"),
    (7, "9ec"),
    (8, "01"), (8, "022b"), (8, "034"), (8, "03c"), (8, "05"), (8, "07"), (8, "93"),
    (8, "95"),
    (9, "034"), (9, "05"), (9, "1c"), (9, "21"), (9, "23"),
    (10, "214"), (10, "23"), (10, "25"), (10, "27"), (10, "29"), (10, "2bc"),
    (10, "2d"), (10, "2f"),
    (11, "2b"), (11, "2d"), (11, "69"), (11, "6b"), (11, "6c4"), (11, "6c81"),
    (11, "6dc"), (11, "6f"),
    (12, "6555555555555555"), (12, "6fffffffffffffff"), (12, "71"), (12, "77"),
    (12, "7c"), (12, "81"), (12, "83"), (12, "9d4"),
    (13, "84"), (13, "8c"), (13, "904"), (13, "91c"), (13, "9204"), (13, "9ac"),
    (13, "9b4"), (13, "9cc"),
    (14, "054"), (14, "05c"), (14, "07"), (14, "0c"), (14, "8b"), (14, "8d"),
    (14, "927"), (14, "92c"),
    (15, "0555555555555555"), (15, "0dfc"), (15, "0f"), (15, "14"), (15, "1c"),
    (15, "22c"), (15, "3d"), (15, "3f"),
    (16, "234"), (16, "24c"), (16, "254"), (16, "2dfc"), (16, "2e4"), (16, "2fc"),
    (16, "34"), (16, "3c"),
    (17, "2d4"), (17, "2d9"), (17, "33"), (17, "35"), (17, "64"), (17, "684"),
    (17, "68c"), (17, "6f"),
    (18, "538c"), (18, "53f554"), (18, "55"), (18, "57"), (18, "7d"), (18, "7e4"),
    (18, "7fc"), (18, "804"),
    (19, "4b5"), (19, "4d"), (19, "53"), (19, "54c"), (19, "81"), (19, "87"),
    (19, "89"), (19, "8b"),
    (20, "0ac"), (20, "0b4"), (20, "0d"), (20, "49"), (20, "4b"), (20, "4c4"),
    (20, "4c81"), (20, "8b"),
    (21, "0d"), (21, "13"), (21, "15"), (21, "3fc"), (21, "41"), (21, "43c"),
    (21, "47"), (21, "484"),
    (22, "35"), (22, "37"), (22, "39"), (22, "3f"), (22, "41c"), (22, "43"),
    (22, "5d"), (22, "5e1"),
    (23, "35"), (23, "59"), (23, "5c4"), (23, "5dd5"), (23, "5f"), (23, "604"),
    (23, "61c"), (23, "63"),
    (24, "504"), (24, "50c"), (24, "514"), (24, "51b"), (24, "53dff"), (24, "53f"),
    (24, "56c"), (24, "574"),
]


def _covering_sizes_sql():
    values = ",\n  ".join(f"({n}, '{tok}')" for n, tok in _COVERING_GOLDEN)
    return f"""
SELECT n_nationkey, cell_token
FROM (VALUES
  {values}
) AS t(n_nationkey, cell_token)
ORDER BY n_nationkey, cell_token
"""


def _q_bounds_box_agg(spark, sf_dir):
    """bounds_box_agg over customer points in two order-independent
    regimes: points restricted to a half-circle of longitude (the
    minimal S1Interval union is then exactly [min, max], whatever the
    accumulation order), grouped by mktsegment; plus one
    antimeridian-WRAPPING group (all points within the 60-degree arc
    around 180, so the unique minimal interval is [min positive lon,
    max negative lon]). The unrestricted full-table union is
    accumulation-order-dependent and can't face a SQL oracle."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.bounds import bounds_box_agg_df
    from duckdb_geography_spark.functions.casts import s2_cell_center_to_geography

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        synth.cust_lon().alias("lon"),
        s2_cell_center_to_geography(
            C.s2_cellfromlonlat(synth.cust_lon(), synth.cust_lat())
        ).alias("geog"),
    )
    half = cust.where((F.col("lon") >= -90.0) & (F.col("lon") < 90.0)).select(
        F.col("c_mktsegment").alias("grp"), "geog"
    )
    wrap = cust.where(F.abs(F.col("lon")) >= 150.0).select(
        F.lit("WRAP").alias("grp"), "geog"
    )
    agg = bounds_box_agg_df(half.unionAll(wrap), "geog", ["grp"])
    # endpoints are exact point lon/lats, but numpy and DuckDB libm can
    # disagree by 1 ulp on atan2/asin — round like every other gate
    return agg.select(
        "grp",
        F.round("xmin", 6).alias("xmin"),
        F.round("ymin", 6).alias("ymin"),
        F.round("xmax", 6).alias("xmax"),
        F.round("ymax", 6).alias("ymax"),
    ).orderBy("grp")


def _bounds_box_agg_sql():
    from duckdb_geography_spark import synth

    cpts = (
        f"SELECT c_custkey AS k, {synth.CUST_LON_SQL} AS lon, "
        f"{synth.CUST_LAT_SQL} AS lat FROM customer"
    )
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(cpts, "_b")},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_b", "_b").lstrip()},
snapped AS (
  SELECT cu.c_custkey AS k, cu.c_mktsegment,
    {synth.CUST_LON_SQL} AS lon0,
    degrees(atan2(c.y, c.x)) AS lon,
    -- engine's bounds_rect uses arcsin(z): for near-pole leaf centers z
    -- rounds to +-1.0 and the latitude collapses to exactly +-90
    degrees(asin(greatest(-1.0, least(1.0, c.z)))) AS lat
  FROM customer cu JOIN centers_b c ON cu.c_custkey = c.k),
half AS (
  SELECT c_mktsegment AS grp, min(lon) AS xmin, min(lat) AS ymin,
         max(lon) AS xmax, max(lat) AS ymax
  FROM snapped WHERE lon0 >= -90.0 AND lon0 < 90.0
  GROUP BY c_mktsegment),
wrap AS (
  SELECT 'WRAP' AS grp,
    min(CASE WHEN lon >= 0 THEN lon END) AS xmin,
    min(lat) AS ymin,
    max(CASE WHEN lon < 0 THEN lon END) AS xmax,
    max(lat) AS ymax
  FROM snapped WHERE abs(lon0) >= 150.0)
SELECT grp, round(xmin, 6) AS xmin, round(ymin, 6) AS ymin,
       round(xmax, 6) AS xmax, round(ymax, 6) AS ymax FROM half
UNION ALL
SELECT grp, round(xmin, 6) AS xmin, round(ymin, 6) AS ymin,
       round(xmax, 6) AS xmax, round(ymax, 6) AS ymax FROM wrap
ORDER BY grp
"""


# ---------------------------------------------------------------------------
# LLM pipeline operators
# ---------------------------------------------------------------------------


def _q_dedup_exact(spark, sf_dir):
    """Winner ids of the exact dedup (min doc_id per md5(text)). The
    id list IS the group-by output — no need for llm.dedup.exact_dedup's
    full-row left_semi join when only the keys are requested. One
    32-byte-key shuffle total."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


_DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text) ORDER BY doc_id
"""


def _q_text_stats(spark, sf_dir):
    """Per-document text statistics plus character-distribution
    Shannon entropy (r8 registry diet: the char_entropy gate merged in
    — llm/textstats.py::char_entropy_stats keeps full-value coverage
    here, joined on the corpus primary key)."""
    from duckdb_geography_spark.llm import textstats as T
    from duckdb_geography_spark.llm.textstats import char_entropy_stats

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    # r12 fusion (guide §2.4): the per-doc stat columns ride the keys
    # branch of char_entropy_stats via its features= hook, so the old
    # stats-scan + doc_id join are gone (3 scans/2 joins -> 2 scans/
    # 1 join). Rows identical: the former join was an inner join on
    # the primary key between two one-row-per-doc frames.
    return char_entropy_stats(
        docs,
        features={
            "n_char": T.char_count("text").cast("long"),
            "n_tok": T.token_count("text").cast("long"),
            "n_word": T.word_count("text").cast("long"),
            "punct_r": F.round(T.punct_ratio("text"), 6),
            "stop_r": F.round(T.stopword_ratio("text"), 6),
            "fp": T.fingerprint_md5("text"),
        },
    ).orderBy("doc_id")


_TEXT_STATS_SQL = """
SELECT ts.*, ce.h_char FROM (
SELECT doc_id,
  length(text) AS n_char,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_word,
  CASE WHEN length(text) = 0 THEN 0.0
       ELSE round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()\\[\\]-]', '', 'g')) AS DOUBLE) / length(text), 6) END AS punct_r,
  CASE WHEN length(trim(text)) = 0 THEN 0.0
       ELSE round(CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
            w -> list_contains(['the','and','of','to','in','is','that','with','for','was'], w))) AS DOUBLE)
            / len(regexp_split_to_array(trim(text), '\\s+')), 6) END AS stop_r,
  md5(text) AS fp
FROM documents) ts
JOIN (
SELECT doc_id,
 CASE WHEN length(text) = 0 THEN 0.0 ELSE
  round((round(ln(CAST(length(text) AS DOUBLE)) * 1000000)
   - CAST(list_sum(list_transform(
       list_distinct(list_transform(generate_series(1, length(text)), i -> substr(text, i, 1))),
       x -> CAST(len(list_filter(list_transform(generate_series(1, length(text)), i -> substr(text, i, 1)), y -> y = x)) AS BIGINT)
            * CAST(round(ln(CAST(len(list_filter(list_transform(generate_series(1, length(text)), i -> substr(text, i, 1)), y -> y = x)) AS DOUBLE)) * 1000000) AS BIGINT)))
     AS DOUBLE) / length(text)) / 1000000.0, 6) END AS h_char
FROM documents) ce USING (doc_id)
ORDER BY doc_id
"""


def _q_langid(spark, sf_dir):
    from duckdb_geography_spark.llm import textstats as T

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.langid("text").alias("lang_pred")).orderBy("doc_id")


def _langid_sql():
    from duckdb_geography_spark.llm.textstats import STOPWORDS

    hits = {
        lang: (
            "len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
            f"w -> list_contains({list(words)!r}, w)))".replace("'", "''").replace('"', "'")
        )
        for lang, words in STOPWORDS.items()
    }
    # build hit-count CTE then fixed-order argmax
    cols = ", ".join(
        f"len(list_filter(toks, w -> list_contains({_sql_list(words)}, w))) AS h_{lang}"
        for lang, words in STOPWORDS.items()
    )
    first = list(STOPWORDS)
    cond = " ".join(
        f"WHEN h_{lang} = best AND best > 0 THEN '{lang}'" for lang in first
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
hits AS (
  SELECT doc_id, {cols} FROM toks),
best AS (
  SELECT doc_id, h_en, h_de, h_fr, h_es, greatest(h_en, h_de, h_fr, h_es) AS best FROM hits)
SELECT doc_id, CASE {cond} ELSE 'und' END AS lang_pred
FROM best ORDER BY doc_id
"""


def _sql_list(words):
    inner = ",".join("'" + w + "'" for w in words)
    return f"[{inner}]"


def _q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard pairs through the SCALE pipeline: banded
    MinHash-LSH candidates (bucket equi-join, no all-pairs) -> exact
    Jaccard refine. The md5 shingle hash lets the oracle replay the
    candidate generation and the refine bit-for-bit."""
    from duckdb_geography_spark.llm.dedup import minhash_jaccard_pairs

    _prep(spark)
    m = _bounded_mod(sf_dir, "documents")
    docs = _t(spark, sf_dir, "documents")
    if m > 1:  # bounded-output sf variant (see _bounded_gates)
        docs = docs.where(F.col("doc_id") % m == 0)
    return minhash_jaccard_pairs(
        docs, n=3, num_perm=64, bands=16, threshold=0.30, hash_fn="md5"
    ).orderBy("key_a", "key_b")


def _ngram_jaccard_sql():
    from duckdb_geography_spark.llm.dedup import _MERSENNE61, _perm_coeffs

    a, b = _perm_coeffs(64, 42)
    mins = ",\n    ".join(
        f"min((h * {int(a[k])} + {int(b[k])}) % {_MERSENNE61}) AS m{k}"
        for k in range(64)
    )
    band_key = lambda bi: "concat_ws(',', " + ", ".join(  # noqa: E731
        f"m{bi * 4 + r}" for r in range(4)
    ) + ")"
    bucket_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, {band_key(bi)} AS bk FROM sig"
        for bi in range(16)
    )
    m = _bounded_mod(_oracle_sf_dir(), "documents")
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 3) AS g
  FROM (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 2, 0))) AS i
        FROM documents WHERE doc_id % {m} = 0)),
hs AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT & 2147483647 AS h FROM sh),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hs GROUP BY doc_id),
buckets AS (
  {bucket_union}
),
elig AS (
  SELECT band, bk FROM buckets GROUP BY band, bk
  HAVING count(*) BETWEEN 2 AND 500),
eb AS (
  SELECT b.doc_id, b.band, b.bk
  FROM buckets b JOIN elig e ON b.band = e.band AND b.bk = e.bk),
cand AS (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM eb a JOIN eb b ON a.band = b.band AND a.bk = b.bk
  WHERE a.doc_id < b.doc_id),
grams AS (
  SELECT doc_id, list(g) AS gs FROM sh GROUP BY doc_id),
ref AS (
  SELECT c.key_a, c.key_b,
    CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) AS inter,
    CAST(len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) AS uni
  FROM cand c JOIN grams ga ON c.key_a = ga.doc_id JOIN grams gb ON c.key_b = gb.doc_id)
SELECT key_a, key_b, round(CASE WHEN uni = 0 THEN 0.0 ELSE inter/uni END, 6) AS jaccard
FROM ref WHERE round(CASE WHEN uni = 0 THEN 0.0 ELSE inter/uni END, 6) >= 0.30
ORDER BY key_a, key_b
"""


def _q_doc_chunks(spark, sf_dir):
    """Context-window chunking under the oracle: fixed 500-char chunks
    with 50 overlap; the gate hashes every chunk (md5) so an off-by-one
    in a boundary breaks it."""
    from duckdb_geography_spark.llm.prep import chunk_documents

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return (
        chunk_documents(docs, chunk_chars=500, overlap=50)
        .select("doc_id", "chunk_idx", "n_chars", F.md5("chunk_text").alias("chunk_fp"))
        .orderBy("doc_id", "chunk_idx")
    )


_DOC_CHUNKS_SQL = """
WITH s AS (
  SELECT doc_id, text,
    unnest(generate_series(1, greatest(length(text) - 50, 1), 450)) AS start
  FROM documents),
c AS (
  SELECT doc_id,
    CAST((start - 1) / 450 AS INTEGER) AS chunk_idx,
    substr(text, CAST(start AS INTEGER), 500) AS chunk_text
  FROM s)
SELECT doc_id, chunk_idx, length(chunk_text) AS n_chars, md5(chunk_text) AS chunk_fp
FROM c WHERE length(chunk_text) > 0
ORDER BY doc_id, chunk_idx
"""


def _q_doc_prep(spark, sf_dir):
    """Dataset-prep pass: deterministic content-hash train/held split
    + PII redaction, gated by the redacted text's md5 (any divergence
    in the regex chains or the bucket math flips a hash)."""
    from duckdb_geography_spark.llm.prep import hash_split, redact_pii

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        hash_split("text", train_pct=90).alias("split"),
        F.md5(redact_pii("text")).alias("redacted_fp"),
    ).orderBy("doc_id")


def _doc_prep_sql():
    from duckdb_geography_spark.llm.prep import PII_PATTERNS

    red = "text"
    for pat, rep in PII_PATTERNS:
        # non-E DuckDB string literals pass backslash escapes through to
        # RE2 unchanged; only quotes need escaping
        pat_sql = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{pat_sql}', '{rep}', 'g')"
    return f"""
SELECT doc_id,
  CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 90
       THEN 'train' ELSE 'held' END AS split,
  md5({red}) AS redacted_fp
FROM documents ORDER BY doc_id
"""


def _q_rolling_fingerprint(spark, sf_dir):
    from duckdb_geography_spark.llm.textstats import rolling_fingerprint

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint("text").alias("rfp")
    ).orderBy("doc_id")


_ROLLING_FP_SQL = """
SELECT doc_id,
  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(regexp_split_to_array(text, ''), ch -> CAST(unicode(ch) AS BIGINT))),
              (acc, c) -> (acc * 31 + c) % 144115188075855859) AS rfp
FROM documents ORDER BY doc_id
"""


def _q_embedding_pairs(spark, sf_dir):
    """Embedding near-dup pairs through the SCALE pipeline: hyperplane
    signature -> pigeonhole chunk equi-join -> hamming refine -> exact
    cosine. No all-pairs stage; the oracle replays the same planes."""
    from duckdb_geography_spark.llm.similarity import lsh_neardup_pairs

    _prep(spark)
    m = _bounded_mod(sf_dir, "embeddings")
    emb = _t(spark, sf_dir, "embeddings")
    if m > 1:  # bounded-output sf variant (see _bounded_gates)
        emb = emb.where(F.col("vec_id") % m == 0)
    # integer quantization end-to-end (r10 ADVICE): quantize=6 makes
    # the library emit cosq = floor(raw*1e6 + 0.5) and threshold on
    # that INTEGER — no F.round anywhere, so the Spark-decimal-repr vs
    # DuckDB-binary rounding divergence class is gone entirely. cos4q
    # is then pure integer arithmetic ((cosq + 50) div 100), identical
    # on both sides (gate rule: never hash a divided float)
    return (
        lsh_neardup_pairs(
            emb,
            threshold=0.30,
            n_planes=16,
            max_hamming=3,
            blocks=4,
            dim=64,
            quantize=6,
        )
        .select(
            "key_a",
            "key_b",
            F.floor((F.col("cosq") + F.lit(50)) / F.lit(100))
            .cast("long")
            .alias("cos4q"),
        )
        .orderBy("key_a", "key_b")
    )


def _embedding_pairs_sql():
    from duckdb_geography_spark.llm.similarity import _hyperplanes

    planes = _hyperplanes(64, 16, 7)
    lits = ["[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]" for p in planes]
    sig = " + ".join(
        f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, lit in enumerate(lits)
    )
    chunk_union = "\n  UNION ALL ".join(
        f"SELECT vec_id, v, sig, {i} AS blk, (sig >> {i * 4}) & 15 AS chunk FROM sigs"
        for i in range(4)
    )
    m = _bounded_mod(_oracle_sf_dir(), "embeddings")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id % {m} = 0),
sigs AS (
  SELECT vec_id, v, {sig} AS sig FROM e),
buckets AS (
  {chunk_union}
),
cand AS (
  SELECT DISTINCT a.vec_id AS key_a, b.vec_id AS key_b
  FROM buckets a JOIN buckets b ON a.blk = b.blk AND a.chunk = b.chunk
  WHERE a.vec_id < b.vec_id AND bit_count(xor(a.sig::BIGINT, b.sig::BIGINT)) <= 3),
scored AS (
  SELECT c.key_a, c.key_b,
    CAST(floor(list_cosine_similarity(ea.v, eb.v) * 1000000 + 0.5) AS BIGINT) AS cosq
  FROM cand c JOIN e ea ON c.key_a = ea.vec_id JOIN e eb ON c.key_b = eb.vec_id)
SELECT key_a, key_b, CAST(floor((cosq + 50) / 100) AS BIGINT) AS cos4q
FROM scored WHERE cosq >= 300000
ORDER BY key_a, key_b
"""


def _q_embedding_topk(spark, sf_dir):
    from duckdb_geography_spark.llm.similarity import cosine_topk

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(sf_dir)
    return cosine_topk(emb.where(F.col("vec_id") != 0), [float(x) for x in q], k=10)


_EMBEDDING_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6) AS score
  FROM embeddings, q WHERE vec_id <> 0)
SELECT vec_id, score FROM s ORDER BY score DESC, vec_id LIMIT 10
"""


def _q_minhash_candidates(spark, sf_dir):
    """MinHash-LSH near-dup candidates with the md5-derived shingle
    hash (hash_fn='md5'), which the DuckDB oracle replays exactly:
    shingle explode -> 64 permutation mins -> banded bucket equi-join.
    No all-pairs stage anywhere."""
    from duckdb_geography_spark.llm.dedup import minhash_lsh_pairs

    _prep(spark)
    m = _bounded_mod(sf_dir, "documents")
    docs = _t(spark, sf_dir, "documents")
    if m > 1:  # bounded-output sf variant (see _bounded_gates)
        docs = docs.where(F.col("doc_id") % m == 0)
    return minhash_lsh_pairs(
        docs, num_perm=64, bands=8, hash_fn="md5", max_bucket=500
    ).orderBy("key_a", "key_b")


def _minhash_sql():
    from duckdb_geography_spark.llm.dedup import _MERSENNE61, _perm_coeffs

    a, b = _perm_coeffs(64, 42)
    mins = ",\n    ".join(
        f"min((h * {int(a[k])} + {int(b[k])}) % {_MERSENNE61}) AS m{k}"
        for k in range(64)
    )
    band_key = lambda bi: "concat_ws(',', " + ", ".join(  # noqa: E731
        f"m{bi * 8 + r}" for r in range(8)
    ) + ")"
    bucket_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, {band_key(bi)} AS bk FROM sig"
        for bi in range(8)
    )
    m = _bounded_mod(_oracle_sf_dir(), "documents")
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
  FROM (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 4, 0))) AS i
        FROM documents WHERE doc_id % {m} = 0)),
hs AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT & 2147483647 AS h FROM sh),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hs GROUP BY doc_id),
buckets AS (
  {bucket_union}
),
elig AS (
  SELECT band, bk FROM buckets GROUP BY band, bk
  HAVING count(*) BETWEEN 2 AND 500),
eb AS (
  SELECT b.doc_id, b.band, b.bk
  FROM buckets b JOIN elig e ON b.band = e.band AND b.bk = e.bk)
SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
FROM eb a JOIN eb b ON a.band = b.band AND a.bk = b.bk
WHERE a.doc_id < b.doc_id
ORDER BY key_a, key_b
"""


def _q_dedup_clusters(spark, sf_dir):
    """Full near-dup clustering: minhash-LSH candidate pairs (md5
    shingle hash so the oracle can replay them) -> connected
    components via iterative min-label propagation. The oracle
    recomputes the same components with a recursive reachability CTE
    + min() — exact transitive-closure semantics, so a dropped edge
    or a propagation bug breaks the hash."""
    from duckdb_geography_spark.llm.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    _prep(spark)
    m = _bounded_mod(sf_dir, "documents")
    docs = _t(spark, sf_dir, "documents")
    if m > 1:  # bounded-output sf variant (see _bounded_gates)
        docs = docs.where(F.col("doc_id") % m == 0)
    pairs = minhash_lsh_pairs(
        docs, num_perm=64, bands=8, hash_fn="md5", max_bucket=500
    )
    comp = connected_components(pairs, nodes=docs.select("doc_id"))
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").cast("long").alias("component")
    ).orderBy("doc_id")


def _dedup_clusters_sql():
    from duckdb_geography_spark.llm.dedup import _MERSENNE61, _perm_coeffs

    a, b = _perm_coeffs(64, 42)
    mins = ",\n    ".join(
        f"min((h * {int(a[k])} + {int(b[k])}) % {_MERSENNE61}) AS m{k}"
        for k in range(64)
    )
    band_key = lambda bi: "concat_ws(',', " + ", ".join(  # noqa: E731
        f"m{bi * 8 + r}" for r in range(8)
    ) + ")"
    bucket_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, {band_key(bi)} AS bk FROM sig"
        for bi in range(8)
    )
    m = _bounded_mod(_oracle_sf_dir(), "documents")
    return f"""
WITH RECURSIVE sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
  FROM (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 4, 0))) AS i
        FROM documents WHERE doc_id % {m} = 0)),
hs AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT & 2147483647 AS h FROM sh),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hs GROUP BY doc_id),
buckets AS (
  {bucket_union}
),
elig AS (
  SELECT band, bk FROM buckets GROUP BY band, bk
  HAVING count(*) BETWEEN 2 AND 500),
eb AS (
  SELECT b.doc_id, b.band, b.bk
  FROM buckets b JOIN elig e ON b.band = e.band AND b.bk = e.bk),
cand AS (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM eb a JOIN eb b ON a.band = b.band AND a.bk = b.bk
  WHERE a.doc_id < b.doc_id),
edges AS (
  SELECT key_a AS s, key_b AS d FROM cand
  UNION ALL
  SELECT key_b AS s, key_a AS d FROM cand),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id % {m} = 0
  UNION
  SELECT e.s, re.r FROM edges e JOIN reach re ON re.node = e.d)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY node ORDER BY doc_id
"""


_SIMHASH_SQL = r"""
WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM t WHERE length(tok) > 0),
v AS (
  SELECT doc_id, bits.i,
    sum(CASE WHEN (h >> bits.i) & 1 = 1 THEN 1 ELSE -1 END) AS w
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) bits
  GROUP BY doc_id, bits.i),
s AS (
  SELECT doc_id, sum(CASE WHEN w > 0 THEN (1::BIGINT << i) ELSE 0 END) AS sig
  FROM v GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(s.sig, 0) AS BIGINT) AS sig
FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


def _simhash_pairs_sql():
    sig_body = _SIMHASH_SQL.strip().rstrip()
    # reuse the signature CTE chain; rebuild as a WITH ... SELECT
    chunk_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, sig, {i} AS blk, (sig >> {i * 15}) & {(1 << 15) - 1} AS chunk FROM sigs"
        for i in range(4)
    )
    return f"""
WITH sigs AS ({sig_body}),
buckets AS (
  {chunk_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b,
    bit_count(xor(a.sig, b.sig)) AS hamming
  FROM buckets a JOIN buckets b ON a.blk = b.blk AND a.chunk = b.chunk
  WHERE a.doc_id < b.doc_id)
SELECT key_a, key_b, CAST(hamming AS INTEGER) AS hamming
FROM cand WHERE hamming <= 3
ORDER BY key_a, key_b
"""


def _q_lsh_topk(spark, sf_dir):
    from duckdb_geography_spark.llm.similarity import lsh_topk

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(sf_dir)
    return lsh_topk(
        emb.where(F.col("vec_id") != 0), [float(x) for x in q], k=10, n_planes=12
    )


def _lsh_topk_sql():
    """Hyperplane-LSH top-k oracle: the same 12 fixed hyperplanes as
    literal DOUBLE[] vectors; candidate = row whose sign-signature is
    within hamming 2 of the query's; exact cosine rank on the bucket."""
    from duckdb_geography_spark.llm.similarity import _hyperplanes

    planes = _hyperplanes(64, 12, 7)
    lits = ["[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]" for p in planes]
    mismatches = " +\n    ".join(
        f"(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), {lit}) >= 0 THEN 1 ELSE 0 END "
        f"!= CASE WHEN list_dot_product(q.qv, {lit}) >= 0 THEN 1 ELSE 0 END)::INT"
        for lit in lits
    )
    return f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v
  FROM embeddings e, q
  WHERE e.vec_id <> 0 AND
    {mismatches} <= 2)
SELECT c.vec_id, round(list_cosine_similarity(c.v, q.qv), 6) AS score
FROM cand c, q
ORDER BY score DESC, c.vec_id
LIMIT 10
"""


def _q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: 16 deterministic unit centroids, each
    row assigned map-side to its argmax-dot centroid (the ingest-time
    partition key at scale), query probes its 4 nearest cells, exact
    cosine rank on the probed subset. Partition-pruning shape — reads
    n_probe/n_centroids of the data, no shuffle before the final
    TakeOrdered."""
    from duckdb_geography_spark.llm.similarity import ivf_topk

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(sf_dir)
    return ivf_topk(
        emb.where(F.col("vec_id") != 0),
        [float(x) for x in q],
        k=10,
        n_centroids=16,
        n_probe=4,
    )


def _ivf_topk_sql():
    """IVF oracle: the same 16 centroid literals; probe = 4 centroids
    ranked by dot with the query (ties by index); candidate = row
    whose argmax-dot centroid (list_indexof of list_max — 1-based,
    like Spark's array_position) is in the probe set; exact cosine
    rank on the candidates."""
    from duckdb_geography_spark.llm.similarity import _ivf_centroids

    cents = _ivf_centroids(64, 16, 11)
    vals = ",\n    ".join(
        f"({j + 1}, [" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for j, c in enumerate(cents)
    )
    return f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
cents(j, c) AS (
  VALUES
    {vals}
),
probe AS (
  SELECT cents.j FROM cents, q
  ORDER BY list_dot_product(q.qv, cents.c) DESC, cents.j
  LIMIT 4),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id <> 0),
asg AS (
  SELECT vec_id, v,
    (SELECT list(list_dot_product(v, c) ORDER BY j) FROM cents) AS cd
  FROM e),
cand AS (
  SELECT vec_id, v FROM asg
  WHERE list_indexof(cd, list_max(cd)) IN (SELECT j FROM probe))
SELECT c.vec_id, round(list_cosine_similarity(c.v, q.qv), 6) AS score
FROM cand c, q
ORDER BY score DESC, c.vec_id
LIMIT 10
"""


def _q_ivf_trained_topk(spark, sf_dir):
    """IVF top-k with TRAINED centroids: deterministic spherical
    k-means on a 256-row md5-keyed hash sample (llm/similarity.py::
    train_ivf_centroids), then the same probe/rank pipeline as
    ivf_topk. The oracle replays training bit-for-bit (same numpy
    routine on the same pandas-read sample) and embeds the resulting
    centroid literals."""
    from duckdb_geography_spark.llm.similarity import (
        ivf_topk,
        ivf_training_sample,
        train_ivf_centroids,
    )

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") != 0)
    cents = train_ivf_centroids(
        ivf_training_sample(base, sample_size=256), n_centroids=16, seed=11
    )
    q = _query_vec(sf_dir)
    return ivf_topk(
        base, [float(x) for x in q], k=10, n_centroids=16, n_probe=4, centroids=cents
    )


def _ivf_trained_topk_sql():
    """Trained-centroid oracle. The training replay reads the SAME
    sample the Spark query uses (256 non-query rows in md5-hash key order)
    from the driver's correctness scale factor — sf0.01, the scale the
    brief pins for oracle comparison. Training is float64 numpy either
    way, so the centroid literals are bit-identical."""
    import pandas as _pd

    from duckdb_geography_spark.llm.similarity import train_ivf_centroids

    pdf = _pd.read_parquet(
        f"{_oracle_sf_dir()}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    from duckdb_geography_spark.llm.similarity import training_sample_pandas

    sample = training_sample_pandas(pdf[pdf["vec_id"] != 0], sample_size=256)
    cents = train_ivf_centroids(sample, n_centroids=16, seed=11)
    vals = ",\n    ".join(
        f"({j + 1}, [" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for j, c in enumerate(cents)
    )
    return f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
cents(j, c) AS (
  VALUES
    {vals}
),
probe AS (
  SELECT cents.j FROM cents, q
  ORDER BY list_dot_product(q.qv, cents.c) DESC, cents.j
  LIMIT 4),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id <> 0),
asg AS (
  SELECT vec_id, v,
    (SELECT list(list_dot_product(v, c) ORDER BY j) FROM cents) AS cd
  FROM e),
cand AS (
  SELECT vec_id, v FROM asg
  WHERE list_indexof(cd, list_max(cd)) IN (SELECT j FROM probe))
SELECT c.vec_id, round(list_cosine_similarity(c.v, q.qv), 6) AS score
FROM cand c, q
ORDER BY score DESC, c.vec_id
LIMIT 10
"""


def _q_wkb_codec(spark, sf_dir):
    """WKB codec gate: polygon area, line vertex count, and snapped
    point x survive an s2_aswkb -> s2_geogfromwkb roundtrip; the
    oracle recomputes the ORIGINAL values (spherical-excess area CTE,
    inverse-Hilbert x), so any corruption in either codec direction
    breaks the hash."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.accessors import (
        s2_area,
        s2_num_points,
        s2_x,
    )
    from duckdb_geography_spark.functions.io import (
        s2_aswkb,
        s2_geogfromtext,
        s2_geogfromwkb,
    )

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    xmin = (F.col("n_nationkey") % 6) * 60.0 - 180.0
    ymin = F.floor(F.col("n_nationkey") / 6) * 30.0 - 60.0
    pt = F.format_string("POINT (%.1f %.1f)", xmin + 7.3, ymin + 5.1)
    ln = F.format_string(
        "LINESTRING (%.1f %.1f, %.1f %.1f)", xmin, ymin, xmin + 55.0, ymin + 25.0
    )
    rt = lambda c: s2_geogfromwkb(s2_aswkb(c))  # noqa: E731
    staged = nation.select(
        "n_nationkey",
        rt(s2_geogfromtext(pt)).alias("pg"),
        rt(s2_geogfromtext(ln)).alias("lg"),
        rt(s2_geogfromtext(synth.nation_wkt())).alias("gg"),
    )
    return staged.select(
        "n_nationkey",
        F.round(s2_area("gg") / F.lit(1e6), 3).alias("area_km2"),
        s2_num_points("lg").alias("npts_ln"),
        F.round(s2_x("pg"), 6).alias("px6"),
    ).orderBy("n_nationkey")


def _wkb_codec_sql():
    from duckdb_geography_spark import synth

    pts = (
        "SELECT n_nationkey AS k, "
        "(n_nationkey % 6) * 60.0 - 180.0 + 7.3 AS lon, "
        "floor(n_nationkey / 6) * 30.0 - 60.0 + 5.1 AS lat FROM nation"
    )
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(pts)},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids").lstrip()},
corners AS (
  SELECT n_nationkey,
    radians({synth.NATION_XMIN_SQL}) AS lx, radians({synth.NATION_YMIN_SQL}) AS ly,
    radians({synth.NATION_XMAX_SQL}) AS hx, radians({synth.NATION_YMAX_SQL}) AS hy
  FROM nation),
v AS (
  SELECT n_nationkey,
    cos(ly)*cos(lx) AS x0, cos(ly)*sin(lx) AS y0, sin(ly) AS z0,
    cos(ly)*cos(hx) AS x1, cos(ly)*sin(hx) AS y1, sin(ly) AS z1,
    cos(hy)*cos(hx) AS x2, cos(hy)*sin(hx) AS y2, sin(hy) AS z2,
    cos(hy)*cos(lx) AS x3, cos(hy)*sin(lx) AS y3, sin(hy) AS z3
  FROM corners),
tri AS (
  SELECT n_nationkey,
    2*atan2(
      x0*(y1*z2 - z1*y2) - y0*(x1*z2 - z1*x2) + z0*(x1*y2 - y1*x2),
      1 + (x0*x1+y0*y1+z0*z1) + (x1*x2+y1*y2+z1*z2) + (x2*x0+y2*y0+z2*z0)
    ) AS e1,
    2*atan2(
      x0*(y2*z3 - z2*y3) - y0*(x2*z3 - z2*x3) + z0*(x2*y3 - y2*x3),
      1 + (x0*x2+y0*y2+z0*z2) + (x2*x3+y2*y3+z2*z3) + (x3*x0+y3*y0+z3*z0)
    ) AS e2
  FROM v)
SELECT t.n_nationkey,
  round(abs(t.e1 + t.e2) * 6371010.0 * 6371010.0 / 1e6, 3) AS area_km2,
  2 AS npts_ln,
  round(degrees(atan2(c.y, c.x)), 6) AS px6
FROM tri t JOIN centers c ON c.k = t.n_nationkey
ORDER BY t.n_nationkey
"""


def _q_accessor_suite(spark, sf_dir):
    """S2.4 accessor family end-to-end under the oracle: per nation a
    synthetic POINT (leaf-snapped at encode; x/y replay the snap via
    the inverse-Hilbert CTE), the rect diagonal LINESTRING (geodesic
    length = chord formula, bit-exact SQL twin), and the nation
    polygon (dimension / num_points / validity / emptiness)."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.accessors import (
        s2_dimension,
        s2_is_valid,
        s2_isempty,
        s2_length,
        s2_num_points,
        s2_x,
        s2_y,
    )
    from duckdb_geography_spark.functions.io import s2_geogfromtext

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    xmin = (F.col("n_nationkey") % 6) * 60.0 - 180.0
    ymin = F.floor(F.col("n_nationkey") / 6) * 30.0 - 60.0
    pt = F.format_string("POINT (%.1f %.1f)", xmin + 7.3, ymin + 5.1)
    pt_b = F.format_string("POINT (%.1f %.1f)", xmin + 30.3, ymin + 10.1)
    ln = F.format_string(
        "LINESTRING (%.1f %.1f, %.1f %.1f)", xmin, ymin, xmin + 55.0, ymin + 25.0
    )
    from duckdb_geography_spark.functions.predicates import s2_max_distance

    staged = nation.select(
        "n_nationkey",
        s2_geogfromtext(pt).alias("pg"),
        s2_geogfromtext(pt_b).alias("pg_b"),
        s2_geogfromtext(ln).alias("lg"),
        s2_geogfromtext(synth.nation_wkt()).alias("gg"),
    )
    return staged.select(
        "n_nationkey",
        F.round(s2_x("pg"), 6).alias("px6"),
        F.round(s2_y("pg"), 6).alias("py6"),
        F.round(s2_length("lg"), 1).alias("len_m1"),
        F.round(s2_max_distance("pg", "pg_b"), 1).alias("maxd_m1"),
        s2_dimension("pg").alias("dim_pt"),
        s2_dimension("lg").alias("dim_ln"),
        s2_dimension("gg").alias("dim_pg"),
        s2_num_points("gg").alias("npts_pg"),
        s2_isempty("pg").alias("empty_pt"),
        s2_is_valid("gg").alias("valid_pg"),
    ).orderBy("n_nationkey")


def _accessor_suite_sql():
    """x/y of the snapped point come from the same inverse-Hilbert
    center math as the engine's decode; the line length is the chord
    formula both engines share."""
    from duckdb_geography_spark import synth

    pts = (
        "SELECT n_nationkey AS k, "
        "(n_nationkey % 6) * 60.0 - 180.0 + 7.3 AS lon, "
        "floor(n_nationkey / 6) * 30.0 - 60.0 + 5.1 AS lat FROM nation"
    )
    pts_b = (
        "SELECT n_nationkey AS k, "
        "(n_nationkey % 6) * 60.0 - 180.0 + 30.3 AS lon, "
        "floor(n_nationkey / 6) * 30.0 - 60.0 + 10.1 AS lat FROM nation"
    )
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(pts)},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids").lstrip()},
{synth.cellfromlonlat_cte(pts_b, "_b").lstrip()},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_b", "_b").lstrip()},
geo AS (
  SELECT n_nationkey,
    radians((n_nationkey % 6) * 60.0 - 180.0) AS x0,
    radians(floor(n_nationkey / 6) * 30.0 - 60.0) AS y0,
    radians((n_nationkey % 6) * 60.0 - 180.0 + 55.0) AS x1,
    radians(floor(n_nationkey / 6) * 30.0 - 60.0 + 25.0) AS y1
  FROM nation),
lens AS (
  SELECT n_nationkey,
    2.0 * asin(least(1.0, 0.5 * sqrt(
      (cos(y1)*cos(x1) - cos(y0)*cos(x0))^2 +
      (cos(y1)*sin(x1) - cos(y0)*sin(x0))^2 +
      (sin(y1) - sin(y0))^2))) * 6371010.0 AS len
  FROM geo)
SELECT g.n_nationkey,
  round(degrees(atan2(c.y, c.x)), 6) AS px6,
  round(degrees(atan2(c.z, sqrt(c.x*c.x + c.y*c.y))), 6) AS py6,
  round(l.len, 1) AS len_m1,
  round(2.0 * asin(least(1.0, 0.5 * sqrt(
    (c.x-b.x)*(c.x-b.x) + (c.y-b.y)*(c.y-b.y) + (c.z-b.z)*(c.z-b.z)
  ))) * 6371010.0, 1) AS maxd_m1,
  0 AS dim_pt, 1 AS dim_ln, 2 AS dim_pg,
  5 AS npts_pg, false AS empty_pt, true AS valid_pg
FROM nation g
JOIN centers c ON c.k = g.n_nationkey
JOIN centers_b b ON b.k = g.n_nationkey
JOIN lens l ON l.n_nationkey = g.n_nationkey
ORDER BY g.n_nationkey
"""


def _q_snapped_distance(spark, sf_dir):
    """s2_distance on snapped cell-center geographies (the exact
    fast path, golden-bearing) for sampled customer x supplier pairs
    within 3,000 km; the oracle rebuilds the centers via the
    inverse-Hilbert CTE and the same chord math. The pair generation
    is a lat-band equi-join (3,000 km bounds |dlat| by 27.0 deg), not
    a cross join — the scale shape for distance-limited pair lists."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.casts import s2_cell_center_to_geography
    from duckdb_geography_spark.functions.predicates import s2_distance

    _prep(spark)
    band = lambda c: F.floor(c / F.lit(27.0)).cast("long")  # noqa: E731
    # bounded-output sf variant: qualifying pairs grow with
    # |customer| x |supplier|, so BOTH samples thin with their table
    # (%10 / %2 at the driver's sf0.01, x m beyond — see _bounded_gates)
    mc = 10 * _bounded_mod(sf_dir, "customer", base=1500)
    ms = 2 * _bounded_mod(sf_dir, "supplier", base=100)
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % mc == 0)
        .select(
            "c_custkey",
            band(synth.cust_lat()).alias("__band"),
            s2_cell_center_to_geography(
                C.s2_cellfromlonlat(synth.cust_lon(), synth.cust_lat())
            ).alias("cg"),
        )
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") % ms == 0)
        .select(
            "s_suppkey",
            F.explode(
                F.array(*[band(synth.supp_lat()) + F.lit(d) for d in (-1, 0, 1)])
            ).alias("__band"),
            s2_cell_center_to_geography(
                C.s2_cellfromlonlat(synth.supp_lon(), synth.supp_lat())
            ).alias("sg"),
        )
    )
    # footer-count broadcast guard (VERDICT r10 item 5): the sampled
    # supplier side is ~rows/ms, tiny at any sf; the guard still caps
    # the forced hint in case a replica ships a giant supplier table
    # (250k sampled rows ~ 25 MB exploded+geog — r12 cap, VERDICT r11
    # item 10)
    if _rows_at(sf_dir, "supplier") // ms <= 250_000:
        supp = F.broadcast(supp)
    return (
        cust.join(supp, "__band")
        .withColumn("__d", s2_distance("cg", "sg"))
        .where(F.col("__d") <= 3_000_000.0)
        .select(
            "c_custkey",
            "s_suppkey",
            F.round("__d", 1).alias("dist_m1"),
        )
        .orderBy("c_custkey", "s_suppkey")
    )


def _snapped_distance_sql():
    from duckdb_geography_spark import synth

    mc = 10 * _bounded_mod(_oracle_sf_dir(), "customer", base=1500)
    ms = 2 * _bounded_mod(_oracle_sf_dir(), "supplier", base=100)
    cpts = (
        f"SELECT c_custkey AS k, {synth.CUST_LON_SQL} AS lon, {synth.CUST_LAT_SQL} AS lat "
        f"FROM customer WHERE c_custkey % {mc} = 0"
    )
    spts = (
        f"SELECT s_suppkey AS k, {synth.SUPP_LON_SQL} AS lon, {synth.SUPP_LAT_SQL} AS lat "
        f"FROM supplier WHERE s_suppkey % {ms} = 0"
    )
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(cpts, "_c")},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_c", "_c").lstrip()},
{synth.cellfromlonlat_cte(spts, "_s").lstrip()},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_s", "_s").lstrip()},
dists AS (
  SELECT c.k AS c_custkey, s.k AS s_suppkey,
    2.0 * asin(least(1.0, 0.5 * sqrt((c.x-s.x)*(c.x-s.x) + (c.y-s.y)*(c.y-s.y) + (c.z-s.z)*(c.z-s.z)))) * 6371010.0 AS dist
  FROM centers_c c CROSS JOIN centers_s s)
SELECT c_custkey, s_suppkey, round(dist, 1) AS dist_m1
FROM dists WHERE dist <= 3000000.0
ORDER BY c_custkey, s_suppkey
"""


def _q_label_centroids(spark, sf_dir):
    """Per-label mean embedding (llm/similarity.py::
    mean_pool_embeddings, round 7) — the chunk-to-document pooling /
    class-centroid primitive as a PURE Column plan (posexplode ->
    map-combinable per-(label, dim) avg -> sort_array(collect_list)
    rebuild; no UDF, plan-asserted in tests). Values rounded to 6dp:
    Spark's partial avg and DuckDB's sequential avg can differ in the
    last ulp."""
    from duckdb_geography_spark.llm.similarity import mean_pool_embeddings

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    pooled = mean_pool_embeddings(emb, "label", out_col="centroid")
    # Gate output is posexplode-ed to SCALAR rows (label, pos, value):
    # the driver's canonicalizer sorts/hashes pandas cells and cannot
    # factorize array cells, so no gate may return a top-level array
    # column (pinned by tests/test_gate_schemas.py).
    return (
        pooled.select("label", F.posexplode("centroid").alias("pos", "v"))
        .select("label", "pos", F.round("v", 6).alias("value"))
        .orderBy("label", "pos")
    )


_LABEL_CENTROIDS_SQL = """
WITH base AS (SELECT label, CAST(embedding AS DOUBLE[]) AS lst FROM embeddings),
e AS (
  SELECT label, i.i - 1 AS pos, lst[i.i] AS v
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(lst))) AS i) i)
SELECT label, pos, round(avg(v), 6) AS value
FROM e GROUP BY label, pos ORDER BY label, pos
"""


def _q_embedding_knn_join(spark, sf_dir):
    """Multi-query exact top-k over the embedding corpus
    (llm/similarity.py::embedding_knn_join, round 7) — the retrieval /
    hard-negative-mining join. Queries (vec_id < 10) are broadcast as
    one matrix; each corpus partition emits only its LOCAL top-k per
    query (mapInPandas bounded at queries x k rows), and one window
    merges the partition winners. The corpus never shuffles. The
    DuckDB oracle is the literal cross join + row_number."""
    from duckdb_geography_spark.llm import similarity as S

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    out = S.embedding_knn_join(
        emb.where(F.col("vec_id") >= 10),
        emb.where(F.col("vec_id") < 10),
        k=5,
    )
    return out.select(
        F.col("query_key").alias("query_id"), "vec_id", "score", "rank"
    ).orderBy("query_id", "rank")


_EMBEDDING_KNN_JOIN_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10),
c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id >= 10),
s AS (
  SELECT q.query_id, c.vec_id,
    round(list_cosine_similarity(c.v, q.qv), 6) AS score
  FROM q CROSS JOIN c),
r AS (
  SELECT query_id, vec_id, score,
    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM s)
SELECT query_id, vec_id, score, rank FROM r WHERE rank <= 5
ORDER BY query_id, rank
"""


def _q_kmeans_clusters(spark, sf_dir):
    """Distributed spherical k-means over the full embeddings corpus
    (llm/cluster.py, round 7) — SemDeDup-style corpus clustering as a
    first-class operator. kmeans_fit runs 2 Lloyd's iterations where
    the ASSIGN step is a map-side broadcast-centroid argmax and the
    UPDATE step aggregates integer-quantized unit vectors per
    (cluster, dim) — exact order-free sums, so the distributed fit is
    bit-identical to the single-node replay the oracle embeds as
    centroid literals (verified: 0 ulp centroid delta, 0/500
    assignment mismatches). 2 iterations (r10, was 3): each Lloyd
    round is an unavoidable driver ACTION (the sums gate the next
    round's broadcast), so at gate scale the wall is ~0.3s of fixed
    job overhead per round; two rounds still prove the multi-round
    distributed update loop while shedding one job."""
    from duckdb_geography_spark.llm import cluster as CL

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    cents = CL.kmeans_fit(emb, k=8, iters=2)
    return (
        CL.kmeans_assign(emb, cents)
        .select("vec_id", F.col("cluster_id").cast("long").alias("cluster_id"))
        .orderBy("vec_id")
    )


def _kmeans_clusters_sql():
    """Oracle: replay the deterministic fit single-node on the SAME
    sf0.01 parquet (the driver's correctness scale — ivf_trained_topk
    precedent), embed the final centroids as literals, and let DuckDB
    do only the final argmax assignment (argmax of the raw dot is
    norm-invariant, first max wins = list_indexof of list_max)."""
    import pandas as _pd

    from duckdb_geography_spark.llm.cluster import kmeans_replay_pandas

    pdf = _pd.read_parquet(
        f"{_oracle_sf_dir()}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    cents, _ = kmeans_replay_pandas(pdf, k=8, iters=2)
    vals = ",\n    ".join(
        f"({j}, [" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for j, c in enumerate(cents)
    )
    return f"""
WITH cents(j, c) AS (
  VALUES
    {vals}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
asg AS (
  SELECT vec_id,
    (SELECT list(list_dot_product(v, c) ORDER BY j) FROM cents) AS cd
  FROM e)
SELECT vec_id, list_indexof(cd, list_max(cd)) - 1 AS cluster_id
FROM asg ORDER BY vec_id
"""


def _q_knn_join(spark, sf_dir):
    """EXACT k-nearest-neighbors spatial join (joins.py::knn_join,
    round 7): for each sampled customer point, the 3 closest sampled
    supplier points by s2_distance. Beyond-reference operator — the
    reference can only express kNN as a cross join + window; this
    runs the iterative radius-doubling recipe (covering equi-join +
    dwithin refine per round, bounded row_number window on the left
    key, unresolved keys retry at 2r). tie_decimals=3 quantizes the
    ranking distance to millimeters so the DuckDB oracle (a literal
    cross join + row_number over the same snapped-center chord math)
    ranks identically despite 1-ulp libm differences."""
    from duckdb_geography_spark import joins as J
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.casts import s2_cell_center_to_geography

    _prep(spark)
    # bounded-output sf variant: the ORACLE is a literal cross join
    # (left x right pairs), so the left sample thins with customer
    # growth — %10 at the driver's sf0.01, %10*m beyond (the right
    # side stays full: the operator under test keeps its real corpus)
    mc = 10 * _bounded_mod(sf_dir, "customer", base=1500)
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % mc == 0)
        .select(
            "c_custkey",
            s2_cell_center_to_geography(
                C.s2_cellfromlonlat(synth.cust_lon(), synth.cust_lat())
            ).alias("geog"),
        )
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") % 2 == 0)
        .select(
            "s_suppkey",
            s2_cell_center_to_geography(
                C.s2_cellfromlonlat(synth.supp_lon(), synth.supp_lat())
            ).alias("geog"),
        )
    )
    out = J.knn_join(
        cust,
        supp,
        k=3,
        left_key="c_custkey",
        right_key="s_suppkey",
        # density-derived initial radius (2R*sqrt(k/n) * 1.5): the
        # round-1 candidate sets stay ~k at EVERY scale factor
        tie_decimals=3,
    )
    return out.select(
        "c_custkey",
        "s_suppkey",
        "knn_rank",
        F.round("knn_distance", 1).alias("dist_m1"),
    ).orderBy("c_custkey", "knn_rank")


def _knn_join_sql():
    from duckdb_geography_spark import synth

    mc = 10 * _bounded_mod(_oracle_sf_dir(), "customer", base=1500)
    cpts = (
        f"SELECT c_custkey AS k, {synth.CUST_LON_SQL} AS lon, {synth.CUST_LAT_SQL} AS lat "
        f"FROM customer WHERE c_custkey % {mc} = 0"
    )
    spts = (
        f"SELECT s_suppkey AS k, {synth.SUPP_LON_SQL} AS lon, {synth.SUPP_LAT_SQL} AS lat "
        "FROM supplier WHERE s_suppkey % 2 = 0"
    )
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(cpts, "_c")},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_c", "_c").lstrip()},
{synth.cellfromlonlat_cte(spts, "_s").lstrip()},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_s", "_s").lstrip()},
dists AS (
  SELECT c.k AS c_custkey, s.k AS s_suppkey,
    2.0 * asin(least(1.0, 0.5 * sqrt((c.x-s.x)*(c.x-s.x) + (c.y-s.y)*(c.y-s.y) + (c.z-s.z)*(c.z-s.z)))) * 6371010.0 AS dist
  FROM centers_c c CROSS JOIN centers_s s),
ranked AS (
  SELECT c_custkey, s_suppkey, dist,
    row_number() OVER (PARTITION BY c_custkey ORDER BY round(dist, 3), s_suppkey) AS knn_rank
  FROM dists)
SELECT c_custkey, s_suppkey, knn_rank, round(dist, 1) AS dist_m1
FROM ranked WHERE knn_rank <= 3
ORDER BY c_custkey, knn_rank
"""


def _q_snap_cast_distance(spark, sf_dir):
    """The round-6 S2_CELL_CENTER-cast surface: distances from
    snap-cast customer points to a snap-cast Vancouver, which take the
    reference's asymmetric snap(lhs)-vs-raw(rhs) evaluation
    (functions/casts.py::s2_snap_to_cell_center, geo/ops.py::
    _cast_pair_chord — golden 3354018.3501422736 pinned in
    tests/test_r6_regressions.py). d_cast_mm uses the asymmetric
    chord (lhs leaf center vs RAW Vancouver decimals); d_plain_mm is
    the symmetric both-snapped chord — the oracle recomputes BOTH
    from the inverse-Hilbert CTE and raw coordinates, so a regression
    to idempotent-snap semantics hash-mismatches. Pure map-side: no
    join, parse + cast + chord per row."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.casts import s2_snap_to_cell_center
    from duckdb_geography_spark.functions.io import s2_geogfromtext
    from duckdb_geography_spark.functions.predicates import s2_distance

    _prep(spark)
    van_wkt = "POINT (-123.12359 49.2753624)"
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            s2_geogfromtext(
                F.concat(
                    F.lit("POINT ("),
                    synth.cust_lon().cast("string"),
                    F.lit(" "),
                    synth.cust_lat().cast("string"),
                    F.lit(")"),
                )
            ).alias("cg"),
            s2_geogfromtext(F.lit(van_wkt)).alias("vg"),
        )
    )
    cast_c = s2_snap_to_cell_center(F.col("cg"))
    cast_v = s2_snap_to_cell_center(F.col("vg"))
    return cust.select(
        "c_custkey",
        F.round(s2_distance(cast_c, cast_v), 3).alias("d_cast_mm"),
        F.round(s2_distance("cg", "vg"), 3).alias("d_plain_mm"),
    ).orderBy("c_custkey")


def _snap_cast_distance_sql():
    from duckdb_geography_spark import synth

    van_lon, van_lat = -123.12359, 49.2753624
    cpts = (
        f"SELECT c_custkey AS k, {synth.CUST_LON_SQL} AS lon, {synth.CUST_LAT_SQL} AS lat "
        "FROM customer WHERE c_custkey % 10 = 0"
    )
    vpt = f"SELECT 0 AS k, {van_lon!r} AS lon, {van_lat!r} AS lat"
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(cpts, "_c")},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_c", "_c").lstrip()},
{synth.cellfromlonlat_cte(vpt, "_v").lstrip()},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_v", "_v").lstrip()},
vraw AS (
  SELECT cos(radians({van_lat!r}))*cos(radians({van_lon!r})) AS x,
         cos(radians({van_lat!r}))*sin(radians({van_lon!r})) AS y,
         sin(radians({van_lat!r})) AS z)
SELECT c.k AS c_custkey,
  round(2.0 * asin(least(1.0, 0.5 * sqrt((c.x-r.x)*(c.x-r.x) + (c.y-r.y)*(c.y-r.y) + (c.z-r.z)*(c.z-r.z)))) * 6371010.0, 3) AS d_cast_mm,
  round(2.0 * asin(least(1.0, 0.5 * sqrt((c.x-v.x)*(c.x-v.x) + (c.y-v.y)*(c.y-v.y) + (c.z-v.z)*(c.z-v.z)))) * 6371010.0, 3) AS d_plain_mm
FROM centers_c c CROSS JOIN centers_v v CROSS JOIN vraw r
ORDER BY c_custkey
"""


def _q_box_ops(spark, sf_dir):
    """S2_BOX family: construct/intersects/union per nation against a
    diagonally shifted box (overlapping, non-wrapping, so the SQL
    twin is plain interval logic)."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.bounds import (
        s2_box,
        s2_box_intersects,
        s2_box_union,
    )

    _prep(spark)
    nation = _t(spark, sf_dir, "nation")
    xmin, ymin, xmax, ymax = synth.nation_box()
    # +0.5 keeps xmin off the -180 boundary, where S1Interval's
    # normalization (lo -> 180) is right but not plain-SQL-expressible
    b1 = s2_box(xmin + 0.5, ymin, xmax, ymax)
    b2 = s2_box(xmin + 4.0, ymin + 3.0, xmax + 4.0, ymax + 3.0)
    u = s2_box_union(b1, b2)
    return nation.select(
        "n_nationkey",
        s2_box_intersects(b1, b2).alias("overlaps"),
        u["xmin"].alias("u_xmin"),
        u["ymin"].alias("u_ymin"),
        u["xmax"].alias("u_xmax"),
        u["ymax"].alias("u_ymax"),
    ).orderBy("n_nationkey")


def _box_ops_sql():
    from duckdb_geography_spark import synth

    return f"""
SELECT n_nationkey,
  TRUE AS overlaps,
  least(({synth.NATION_XMIN_SQL}) + 0.5, ({synth.NATION_XMIN_SQL}) + 4.0) AS u_xmin,
  least({synth.NATION_YMIN_SQL}, ({synth.NATION_YMIN_SQL}) + 3.0) AS u_ymin,
  greatest({synth.NATION_XMAX_SQL}, ({synth.NATION_XMAX_SQL}) + 4.0) AS u_xmax,
  greatest({synth.NATION_YMAX_SQL}, ({synth.NATION_YMAX_SQL}) + 3.0) AS u_ymax
FROM nation ORDER BY n_nationkey
"""


def _q_predicate_gate(spark, sf_dir):
    """Geography predicate family (s2_intersects / s2_contains /
    s2_mayintersect / s2_equals, predicates.py) under the exact oracle.

    Candidates come from the engine's own covering equi-join (level-4
    nation coverings x pure-Column point parents); the refine is the
    real predicate UDFs on (snapped point, geodesic rect polygon). The
    oracle replays point-in-geodesic-rect as four spherical
    triple-product sign tests on the snapped cell-center coordinates
    (the rect is convex: the intersection of four hemispheres), so
    every output count equals the exact PIP count. A false negative in
    the coverer's superset property, or a regression in any predicate
    UDF, breaks a count. Reference parity: s2_intersects & co are the
    reference's join predicates (src/s2_binary_index_ops.cpp:85-155)."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions import predicates as P
    from duckdb_geography_spark.functions.bounds import s2_covering_fixed_level
    from duckdb_geography_spark.functions.casts import s2_cell_center_to_geography
    from duckdb_geography_spark.functions.io import s2_geogfromtext

    _prep(spark)
    level = 4
    pts = (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            synth.cust_lon().alias("lon"),
            synth.cust_lat().alias("lat"),
        )
        .withColumn("__leaf", C.s2_cellfromlonlat("lon", "lat"))
        .select(
            "c_custkey",
            "lon",
            "lat",
            s2_cell_center_to_geography("__leaf").alias("pg"),
            C.s2_cell_parent(F.col("__leaf"), level).alias("__cell"),
        )
    )
    nation = _t(spark, sf_dir, "nation")
    r = (
        nation.repartition(32)  # BEFORE the encode UDF: spread the rows
        .select("n_nationkey", s2_geogfromtext(synth.nation_wkt()).alias("ng"))
        .withColumn("__cell", F.explode(s2_covering_fixed_level("ng", level)))
    )
    cand = pts.join(F.broadcast(r), "__cell")
    # the raw (unsnapped) coordinate re-enters as a MULTIPOINT: equality
    # with the snapped point exercises the leaf-snap tolerance contract
    mp = s2_geogfromtext(F.format_string("MULTIPOINT (%.3f %.3f)", "lon", "lat"))
    flags = cand.select(
        "n_nationkey",
        P.s2_intersects(F.col("pg"), F.col("ng")).alias("i"),
        P.s2_contains(F.col("ng"), F.col("pg")).alias("c"),
        P.s2_mayintersect(F.col("pg"), F.col("ng")).alias("m"),
        P.s2_equals(F.col("pg"), mp).alias("eq"),
    )
    return (
        flags.groupBy("n_nationkey")
        .agg(
            F.sum(F.col("i").cast("long")).alias("n_intersects"),
            F.sum(F.col("c").cast("long")).alias("n_contains"),
            F.sum((F.col("i") & F.col("m")).cast("long")).alias("n_may_and_int"),
            F.sum((F.col("i") & F.col("eq")).cast("long")).alias("n_eq_and_int"),
        )
        .where(F.col("n_intersects") > 0)
        .orderBy("n_nationkey")
    )


def _predicate_gate_sql():
    from duckdb_geography_spark import synth

    cpts = (
        f"SELECT c_custkey AS k, {synth.CUST_LON_SQL} AS lon, "
        f"{synth.CUST_LAT_SQL} AS lat FROM customer"
    )
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(cpts, "_p")},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_p", "_p").lstrip()},
rect AS (
  SELECT n_nationkey,
    radians({synth.NATION_XMIN_SQL}) AS x0,
    radians({synth.NATION_XMAX_SQL}) AS x1,
    radians({synth.NATION_YMIN_SQL}) AS y0,
    radians({synth.NATION_YMAX_SQL}) AS y1
  FROM nation),
corn AS (
  SELECT n_nationkey,
    cos(y0)*cos(x0) AS ax, cos(y0)*sin(x0) AS ay, sin(y0) AS az,
    cos(y0)*cos(x1) AS bx, cos(y0)*sin(x1) AS by, sin(y0) AS bz,
    cos(y1)*cos(x1) AS cx, cos(y1)*sin(x1) AS cy, sin(y1) AS cz,
    cos(y1)*cos(x0) AS dx, cos(y1)*sin(x0) AS dy, sin(y1) AS dz
  FROM rect),
-- point inside the geodesic rect (CCW ring A->B->C->D) iff it lies on
-- the interior side of all four edge great circles: (V1 x V2) . P >= 0
inside AS (
  SELECT p.k, c.n_nationkey
  FROM centers_p p CROSS JOIN corn c
  WHERE (c.ay*c.bz - c.az*c.by)*p.x + (c.az*c.bx - c.ax*c.bz)*p.y + (c.ax*c.by - c.ay*c.bx)*p.z >= 0
    AND (c.by*c.cz - c.bz*c.cy)*p.x + (c.bz*c.cx - c.bx*c.cz)*p.y + (c.bx*c.cy - c.by*c.cx)*p.z >= 0
    AND (c.cy*c.dz - c.cz*c.dy)*p.x + (c.cz*c.dx - c.cx*c.dz)*p.y + (c.cx*c.dy - c.cy*c.dx)*p.z >= 0
    AND (c.dy*c.az - c.dz*c.ay)*p.x + (c.dz*c.ax - c.dx*c.az)*p.y + (c.dx*c.ay - c.dy*c.ax)*p.z >= 0)
SELECT n_nationkey,
  CAST(count(*) AS BIGINT) AS n_intersects,
  CAST(count(*) AS BIGINT) AS n_contains,
  CAST(count(*) AS BIGINT) AS n_may_and_int,
  CAST(count(*) AS BIGINT) AS n_eq_and_int
FROM inside
GROUP BY n_nationkey
ORDER BY n_nationkey
"""


def _q_dwithin_gate(spark, sf_dir):
    """s2_dwithin end-to-end through the buffered covering distance
    join (joins.py distance_join — the scale recipe, no cartesian):
    customers within 1000 km of each nation's center point. The
    oracle recomputes the snapped great-circle distances in SQL."""
    from duckdb_geography_spark import joins as J
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.casts import s2_cell_center_to_geography

    _prep(spark)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        s2_cell_center_to_geography(
            C.s2_cellfromlonlat(synth.cust_lon(), synth.cust_lat())
        ).alias("geog"),
    )
    nation = _t(spark, sf_dir, "nation")
    xmin, ymin, _, _ = synth.nation_box()
    centers = (
        nation.select(
            "n_nationkey",
            (xmin + 27.5).alias("clon"),
            (ymin + 12.5).alias("clat"),
        )
        .select(
            "n_nationkey",
            s2_cell_center_to_geography(C.s2_cellfromlonlat("clon", "clat")).alias("geog"),
        )
    )
    pairs = J.distance_join(
        cust,
        centers,
        meters=1_000_000.0,
        level=3,
        left_key="c_custkey",
        right_key="n_nationkey",
        broadcast_right=True,
    )
    return (
        pairs.groupBy("n_nationkey")
        .agg(F.count("*").alias("n_within"))
        .orderBy("n_nationkey")
    )


def _dwithin_gate_sql():
    from duckdb_geography_spark import synth

    cpts = (
        f"SELECT c_custkey AS k, {synth.CUST_LON_SQL} AS lon, "
        f"{synth.CUST_LAT_SQL} AS lat FROM customer"
    )
    npts = (
        f"SELECT n_nationkey AS k, ({synth.NATION_XMIN_SQL}) + 27.5 AS lon, "
        f"({synth.NATION_YMIN_SQL}) + 12.5 AS lat FROM nation"
    )
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(cpts, "_c")},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_c", "_c").lstrip()},
{synth.cellfromlonlat_cte(npts, "_n").lstrip()},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_n", "_n").lstrip()}
SELECT n.k AS n_nationkey, CAST(count(*) AS BIGINT) AS n_within
FROM centers_c c CROSS JOIN centers_n n
WHERE 2.0 * asin(least(1.0, 0.5 * sqrt((c.x-n.x)*(c.x-n.x) + (c.y-n.y)*(c.y-n.y) + (c.z-n.z)*(c.z-n.z)))) * 6371010.0 <= 1000000.0
GROUP BY n.k
ORDER BY n_nationkey
"""


def _overlay_intersection_sql():
    """The overlap quad's vertices: B's SW corner, meridian(xmax) x
    B's south great circle, A's NE corner, meridian(xmin+10.3) x A's
    north great circle. Area = Van Oosterom & Strackee spherical
    excess of the two fan triangles — the engine's own formula
    (geo/geodesy.py ring_signed_area)."""
    return """
WITH box AS (
  SELECT n_nationkey,
    radians((n_nationkey % 6) * 60.0 - 180.0) AS x0,
    radians((n_nationkey % 6) * 60.0 - 180.0 + 55.0) AS x1,
    radians(floor(n_nationkey / 6) * 30.0 - 60.0) AS y0,
    radians(floor(n_nationkey / 6) * 30.0 - 60.0 + 25.0) AS y1,
    radians((n_nationkey % 6) * 60.0 - 180.0 + 10.3) AS bx0,
    radians(floor(n_nationkey / 6) * 30.0 - 60.0 + 5.7) AS by0
  FROM nation),
-- quad vertices as unit vectors
verts AS (
  SELECT n_nationkey,
    -- v0: B's SW corner
    cos(by0)*cos(bx0) AS v0x, cos(by0)*sin(bx0) AS v0y, sin(by0) AS v0z,
    -- v2: A's NE corner
    cos(y1)*cos(x1) AS v2x, cos(y1)*sin(x1) AS v2y, sin(y1) AS v2z,
    -- B's south edge corners (for its great-circle normal)
    cos(by0)*cos(bx0) AS bsx, cos(by0)*sin(bx0) AS bsy, sin(by0) AS bsz,
    cos(by0)*cos(bx0 + (x1 - x0)) AS bex, cos(by0)*sin(bx0 + (x1 - x0)) AS bey, sin(by0) AS bez,
    -- A's north edge corners
    cos(y1)*cos(x0) AS anx, cos(y1)*sin(x0) AS any_, sin(y1) AS anz,
    cos(y1)*cos(x1) AS aex, cos(y1)*sin(x1) AS aey, sin(y1) AS aez,
    -- meridian plane normals at xmax (for v1) and bx0 (for v3)
    -sin(x1) AS m1x, cos(x1) AS m1y,
    -sin(bx0) AS m3x, cos(bx0) AS m3y,
    -- sign references near the expected crossings
    cos(by0)*cos(x1) AS r1x, cos(by0)*sin(x1) AS r1y, sin(by0) AS r1z,
    cos(y1)*cos(bx0) AS r3x, cos(y1)*sin(bx0) AS r3y, sin(y1) AS r3z
  FROM box),
crossings AS (
  SELECT n_nationkey, v0x, v0y, v0z, v2x, v2y, v2z,
    -- n_bsouth = bs x be
    (bsy*bez - bsz*bey) AS nbx, (bsz*bex - bsx*bez) AS nby, (bsx*bey - bsy*bex) AS nbz,
    -- n_anorth = an x ae
    (any_*aez - anz*aey) AS nax, (anz*aex - anx*aez) AS nay, (anx*aey - any_*aex) AS naz,
    m1x, m1y, m3x, m3y, r1x, r1y, r1z, r3x, r3y, r3z
  FROM verts),
raw AS (
  SELECT n_nationkey, v0x, v0y, v0z, v2x, v2y, v2z,
    -- v1 = meridian(x1) x n_bsouth (sign-fixed to the r1 hemisphere)
    (m1y*nbz - 0.0*nby) AS w1x, (0.0*nbx - m1x*nbz) AS w1y, (m1x*nby - m1y*nbx) AS w1z,
    -- v3 = meridian(bx0) x n_anorth
    (m3y*naz - 0.0*nay) AS w3x, (0.0*nax - m3x*naz) AS w3y, (m3x*nay - m3y*nax) AS w3z,
    r1x, r1y, r1z, r3x, r3y, r3z
  FROM crossings),
fixed AS (
  SELECT n_nationkey, v0x, v0y, v0z, v2x, v2y, v2z,
    CASE WHEN w1x*r1x + w1y*r1y + w1z*r1z < 0 THEN -1.0 ELSE 1.0 END
      / sqrt(w1x*w1x + w1y*w1y + w1z*w1z) AS s1,
    w1x, w1y, w1z,
    CASE WHEN w3x*r3x + w3y*r3y + w3z*r3z < 0 THEN -1.0 ELSE 1.0 END
      / sqrt(w3x*w3x + w3y*w3y + w3z*w3z) AS s3,
    w3x, w3y, w3z
  FROM raw),
quad AS (
  SELECT n_nationkey, v0x, v0y, v0z,
    w1x*s1 AS v1x, w1y*s1 AS v1y, w1z*s1 AS v1z,
    v2x, v2y, v2z,
    w3x*s3 AS v3x, w3y*s3 AS v3y, w3z*s3 AS v3z
  FROM fixed),
tri AS (
  SELECT n_nationkey,
    -- E(v0,v1,v2)
    2.0 * atan2(
      v0x*(v1y*v2z - v1z*v2y) + v0y*(v1z*v2x - v1x*v2z) + v0z*(v1x*v2y - v1y*v2x),
      1.0 + (v0x*v1x + v0y*v1y + v0z*v1z) + (v1x*v2x + v1y*v2y + v1z*v2z)
          + (v2x*v0x + v2y*v0y + v2z*v0z)) AS e1,
    -- E(v0,v2,v3)
    2.0 * atan2(
      v0x*(v2y*v3z - v2z*v3y) + v0y*(v2z*v3x - v2x*v3z) + v0z*(v2x*v3y - v2y*v3x),
      1.0 + (v0x*v2x + v0y*v2y + v0z*v2z) + (v2x*v3x + v2y*v3y + v2z*v3z)
          + (v3x*v0x + v3y*v0y + v3z*v0z)) AS e2
  FROM quad)
SELECT n_nationkey,
  round(abs(e1 + e2) * 6371010.0 * 6371010.0 / 1e6, 3) AS inter_area_km2
FROM tri
ORDER BY n_nationkey
"""


def _q_doc_quality(spark, sf_dir):
    """C4/Gopher-style quality heuristics + keep/drop filter — all
    pure Column expressions (JVM codegen; the filter is scan-stage
    predicate material at 100 TB)."""
    from duckdb_geography_spark.llm import textstats as T

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(T.mean_word_length("text"), 6).alias("mwl"),
        F.round(T.duplicate_word_ratio("text"), 6).alias("dup_r"),
        F.round(T.digit_ratio("text"), 6).alias("digit_r"),
        F.round(T.uppercase_ratio("text"), 6).alias("upper_r"),
        T.quality_filter("text").alias("keep"),
    ).orderBy("doc_id")


_DOC_QUALITY_SQL = r"""
WITH toks AS (
  SELECT doc_id, text,
    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
  FROM documents),
m AS (
  SELECT doc_id, text, ws,
    len(ws) AS n_tok,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE CAST(list_aggregate(list_transform(ws, t -> length(t)), 'sum') AS DOUBLE)
              / len(ws) END AS mwl,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE 1.0 - CAST(len(list_distinct(list_transform(ws, t -> lower(t)))) AS DOUBLE)
              / len(ws) END AS dup_r,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
              / length(text) END AS digit_r,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
              / length(text) END AS upper_r
  FROM toks)
SELECT doc_id,
  round(mwl, 6) AS mwl,
  round(dup_r, 6) AS dup_r,
  round(digit_r, 6) AS digit_r,
  round(upper_r, 6) AS upper_r,
  (n_tok >= 5 AND n_tok <= 100000 AND mwl >= 2.0 AND mwl <= 12.0
   AND dup_r <= 0.6 AND digit_r <= 0.3) AS keep
FROM m ORDER BY doc_id
"""


def _q_sessionize_batch(spark, sf_dir):
    """Gaps-and-islands sessionization of the events table (30-min
    inactivity gap): the batch twin of the stateful streaming
    sessionizer, one shuffle on user_id (the lag/cumsum windows and
    the final (user, session) agg reuse the same hash partitioning)."""
    from duckdb_geography_spark.streaming.events import sessionize_batch

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    out = sessionize_batch(ev, gap_minutes=30)
    return out.select(
        "user_id",
        "session_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("start_s"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("end_s"),
        "n_events",
        "value_micro",
    ).orderBy("user_id", "session_id")


_SESSIONIZE_SQL = """
WITH o AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN epoch(ts) - lag(epoch(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800.0
         THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT user_id, ts, value,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
  count(*) AS n_events,
  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micro
FROM s GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def _q_stream_sessionize(spark, sf_dir):
    """The CUSTOM STATEFUL operator (applyInPandasWithState) under the
    oracle: availableNow stream through the per-user inactivity
    sessionizer. A closed session is emitted when a later event (or a
    timeout) proves the gap; the stream ends with each user's LAST
    session still open in state, so the oracle is the batch
    gaps-and-islands result MINUS every user's final session.
    value_micro is exact: each value*1e6 is integer-representable in
    a double and session sums stay far below 2^53, so rounding the
    float accumulation equals the batch per-event integer sum."""
    import uuid

    from duckdb_geography_spark.streaming import events as SE

    _prep(spark)
    ev = SE.read_events_stream(spark, sf_dir)
    # bounded-output sf variant by WHOLE users (sessions stay intact;
    # base=1M keeps the full feed through sf1 — 10M events at sf10
    # blow the Python-stateful gate's drain budget)
    m = _bounded_mod(sf_dir, "events", base=1_000_000)
    if m > 1:
        ev = ev.where(F.col("user_id") % m == 0)
    out = SE.sessionize(ev, gap_minutes=30)
    qname = f"sess_gate_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # the 30-min timers cannot fire within the seconds the drain takes,
    # so the emitted set is deterministic (exactly the gap-closed
    # sessions)
    if not SE.drain_and_stop(q):
        raise TimeoutError(f"stream_sessionize did not drain in {SE._DRAIN_TIMEOUT_S:.0f}s")
    return (
        spark.table(qname)
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("start_s"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("end_s"),
            "n_events",
            F.round(F.col("total_value") * 1_000_000).cast("long").alias("value_micro"),
        )
        .orderBy("user_id", "start_s")
    )


def _stream_sessionize_sql():
    m = _bounded_mod(_oracle_sf_dir(), "events", base=1_000_000)
    return f"""
WITH o AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN epoch(ts) - lag(epoch(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800.0
         THEN 1 ELSE 0 END AS brk
  FROM events WHERE user_id % {m} = 0),
s AS (
  SELECT user_id, ts, value,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o),
agg AS (
  SELECT user_id, session_id,
    strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
    strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
    count(*) AS n_events,
    CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micro
  FROM s GROUP BY user_id, session_id),
-- the stream's final session per user is still open in state when the
-- availableNow run terminates: only CLOSED sessions appear
last AS (SELECT user_id, max(session_id) AS last_id FROM agg GROUP BY user_id)
SELECT a.user_id, a.start_s, a.end_s, a.n_events, a.value_micro
FROM agg a JOIN last l ON l.user_id = a.user_id AND a.session_id < l.last_id
ORDER BY a.user_id, a.start_s
"""





def _q_stream_windowed_counts(spark, sf_dir):
    """The STREAMING engine under the hard oracle: availableNow
    file-source stream -> watermark -> tumbling 1h window counts into
    a memory sink; the returned table must equal the batch/SQL hourly
    rollup. Gates the watermark+window path end-to-end (the weaker
    rows-only check would miss a dropped-late-row regression)."""
    import uuid

    from duckdb_geography_spark.streaming import events as SE

    _prep(spark)
    ev = SE.read_events_stream(spark, sf_dir)
    out = SE.windowed_event_counts(ev)
    qname = f"win_gate_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_windowed_counts did not finish in 300s")
    return (
        spark.table(qname)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("hour", "event_type")
    )


_STREAM_WINDOWED_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
  count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _q_stream_cell_rollup(spark, sf_dir):
    """Streaming GEO rollup under the oracle: watermark + 1h window
    counts per level-4 S2 cell of each user's synthetic location,
    executed by the streaming engine (availableNow, memory sink); the
    oracle rebuilds the cells with the recursive-CTE lonlat->cell
    implementation and the rollup with a plain GROUP BY."""
    import uuid

    from duckdb_geography_spark.streaming import events as SE

    _prep(spark)
    ev = SE.read_events_stream(spark, sf_dir)
    out = SE.cell_rollup_stream(ev, level=4)
    qname = f"cell_gate_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_cell_rollup did not finish in 300s")
    return (
        spark.table(qname)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "cell",
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("hour", "cell")
    )


def _stream_cell_rollup_sql():
    from duckdb_geography_spark import synth

    upts = (
        "SELECT DISTINCT user_id AS k, "
        "(user_id * 2654435761 % 360000) / 1000.0 - 180.0 AS lon, "
        "(user_id * 40503 % 180000) / 1000.0 - 90.0 AS lat FROM events"
    )
    p4 = synth.cell_parent_sql("c.cell", 4)
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(upts, "_u")}
SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS hour,
  {p4} AS cell,
  count(*) AS n
FROM events e JOIN cellids_u c ON e.user_id = c.k
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _q_overlay_suite(spark, sf_dir):
    """s2_intersection, s2_difference and s2_union under the exact
    oracle, one rect-pair configuration: the oracle computes area(A),
    area(B) and the overlap quad's area with the engine's own
    spherical-excess formula, then uses the exact identities
    area(A\\B) = area(A) - area(A^B) and
    area(A u B) = area(A) + area(B) - area(A^B). A wrong edge split,
    dropped hole, or winding bug in the overlay engine shifts a
    km2-rounded area and breaks the hash. Round 8 (VERDICT r7 item 7):
    absorbs the former overlay_intersection gate — inter_area_km2 is
    that gate's exact output column, so all three overlay operators
    stay full-value oracle-covered in one registry slot."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.accessors import s2_area
    from duckdb_geography_spark.functions.io import s2_geogfromtext
    from duckdb_geography_spark.functions.predicates import (
        s2_difference,
        s2_intersection,
        s2_union,
    )

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(16)
    xmin, ymin, xmax, ymax = synth.nation_box()
    shifted = F.format_string(
        "POLYGON ((%.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f, %.1f %.1f))",
        xmin + 10.3, ymin + 5.7, xmax + 10.3, ymin + 5.7,
        xmax + 10.3, F.least(ymax + 5.7, F.lit(89.0)),
        xmin + 10.3, F.least(ymax + 5.7, F.lit(89.0)), xmin + 10.3, ymin + 5.7,
    )
    a = s2_geogfromtext(synth.nation_wkt())
    b = s2_geogfromtext(shifted)
    staged = nation.select(
        "n_nationkey",
        s2_intersection(a, b).alias("ig"),
        s2_difference(a, b).alias("dg"),
        s2_union(a, b).alias("ug"),
    )
    return staged.select(
        "n_nationkey",
        F.round(s2_area("ig") / F.lit(1e6), 3).alias("inter_area_km2"),
        F.round(s2_area("dg") / F.lit(1e6), 3).alias("diff_area_km2"),
        F.round(s2_area("ug") / F.lit(1e6), 3).alias("union_area_km2"),
    ).orderBy("n_nationkey")


def _rect_excess_ctes(tag: str, lx: str, ly: str, hx: str, hy: str) -> str:
    """CTE pair computing the spherical excess of the geodesic rect
    with corners (lx,ly)..(hx,hy) — the same two-triangle Van
    Oosterom & Strackee fan as rect_measures (proven vs s2_area)."""
    return f"""v{tag} AS (
  SELECT n_nationkey,
    cos({ly})*cos({lx}) AS x0, cos({ly})*sin({lx}) AS y0, sin({ly}) AS z0,
    cos({ly})*cos({hx}) AS x1, cos({ly})*sin({hx}) AS y1, sin({ly}) AS z1,
    cos({hy})*cos({hx}) AS x2, cos({hy})*sin({hx}) AS y2, sin({hy}) AS z2,
    cos({hy})*cos({lx}) AS x3, cos({hy})*sin({lx}) AS y3, sin({hy}) AS z3
  FROM box),
e{tag} AS (
  SELECT n_nationkey,
    2*atan2(
      x0*(y1*z2 - z1*y2) - y0*(x1*z2 - z1*x2) + z0*(x1*y2 - y1*x2),
      1 + (x0*x1+y0*y1+z0*z1) + (x1*x2+y1*y2+z1*z2) + (x2*x0+y2*y0+z2*z0)
    ) + 2*atan2(
      x0*(y2*z3 - z2*y3) - y0*(x2*z3 - z2*x3) + z0*(x2*y3 - y2*x3),
      1 + (x0*x2+y0*y2+z0*z2) + (x2*x3+y2*y3+z2*z3) + (x3*x0+y3*y0+z3*z0)
    ) AS e
  FROM v{tag})"""


def _overlay_suite_sql():
    """Reuses the overlay_intersection oracle's quad-excess CTEs and
    adds rect excesses for A and B; difference/union areas follow by
    inclusion-exclusion (exact identities on the sphere)."""
    inter = _overlay_intersection_sql()
    # splice extra CTEs + a new final SELECT onto the shared body
    body = inter[: inter.rindex("SELECT n_nationkey")].rstrip().rstrip(",") + ",\n"
    ea = _rect_excess_ctes("A", "x0", "y0", "x1", "y1")
    eb = _rect_excess_ctes(
        "B", "bx0", "by0", "bx0 + (x1 - x0)", "least(y1 + radians(5.7), radians(89.0))"
    )
    return (
        body
        + ea
        + ",\n"
        + eb
        + """
SELECT t.n_nationkey,
  round(abs(t.e1 + t.e2) * 6371010.0 * 6371010.0 / 1e6, 3) AS inter_area_km2,
  round((abs(a.e) - abs(t.e1 + t.e2)) * 6371010.0 * 6371010.0 / 1e6, 3) AS diff_area_km2,
  round((abs(a.e) + abs(b.e) - abs(t.e1 + t.e2)) * 6371010.0 * 6371010.0 / 1e6, 3) AS union_area_km2
FROM tri t
JOIN eA a ON a.n_nationkey = t.n_nationkey
JOIN eB b ON b.n_nationkey = t.n_nationkey
ORDER BY t.n_nationkey
"""
    )


def _q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing over documents-as-binary. The stub decode
    kernel is sha256-derived, so DuckDB can replay it exactly:
    media_id is the stable doc_id (never monotonically_increasing_id —
    unstable across retries/partitionings), and the float32 features
    are exploded to (media_id, feat_idx, feat_val) rows rounded to 6
    decimals so the driver canonicalizer can sort and hash them."""
    from duckdb_geography_spark.llm import multimodal as mm

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id").limit(100)
    media = mm.attach_media(
        docs.select("doc_id", F.encode("text", "utf-8").alias("payload")),
        "payload",
        "doc_id",
    )
    # kernel pinned to the stub tier: the oracle models the
    # byte-derived pseudo-decode, independent of installed media libs
    feats = mm.decode_image_features(media, kernel="stub")
    return (
        feats.select(
            "media_id",
            "width",
            "height",
            "channels",
            F.posexplode("features").alias("feat_idx", "feat_val"),
        )
        .withColumn("feat_val", F.round(F.col("feat_val").cast("double"), 6))
        .orderBy("media_id", "feat_idx")
    )


_MULTIMODAL_SQL = """
-- replays the stub decode kernel (sha256-derived pseudo-features) over
-- the same first-100 documents; hex-pair -> byte via '0x' cast
WITH m AS (
    SELECT doc_id AS media_id, sha256(text) AS h
    FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 100)
),
idx AS (SELECT unnest(range(8)) AS feat_idx)
SELECT
    m.media_id,
    1 + (('0x' || substr(h, 1, 2))::INT % 64) AS width,
    1 + (('0x' || substr(h, 3, 2))::INT % 64) AS height,
    3 AS channels,
    idx.feat_idx::INT AS feat_idx,
    -- replicate the kernel's float32 quantization (bytes 80/131/182 sit
    -- on round-6 boundaries), then round in double like the Spark side
    round(CAST(CAST(('0x' || substr(h, 2 * feat_idx::INT + 1, 2))::INT
               / 255.0 AS REAL) AS DOUBLE), 6) AS feat_val
FROM m CROSS JOIN idx
ORDER BY media_id, feat_idx
"""


def _q_audio_windows(spark, sf_dir):
    """audio_window_features under the exact oracle. Encodings are
    chosen so float32 output survives the hash: with 64-sample windows
    the window sum fits 13 bits, so mean = sum/2^6 is EXACT in
    float32; rms is squared back and scaled (rms^2 * 64 = sum of
    squares <= 2^20, float32 relative error ~1.2e-7 keeps the rounding
    error far below 0.5), recovering the exact integer accumulator.
    Partial tail windows (n < 64) are excluded — their divisor is not
    a power of two, so their float32 mean is inexact by construction."""
    from duckdb_geography_spark.llm import multimodal as mm

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id").limit(100)
    media = mm.attach_media(
        docs.select("doc_id", F.encode("text", "utf-8").alias("payload")),
        "payload",
        "doc_id",
    )
    w = mm.audio_window_features(media, window_bytes=64, kernel="stub")
    return (
        w.where(F.col("n") == 64)
        .select(
            "media_id",
            "window_idx",
            F.col("mean").cast("double").alias("mean64"),
            F.round(F.col("rms").cast("double") * F.col("rms").cast("double") * 64)
            .cast("long")
            .alias("sumsq"),
            "zero_crossings",
        )
        .orderBy("media_id", "window_idx")
    )


_AUDIO_WINDOWS_SQL = """
WITH d AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 100),
idx AS (
  SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM d),
b AS (
  SELECT doc_id, i,
    ascii(substr(text, CAST(i AS INT), 1)) - 128.0 AS s,
    CAST(floor((i - 1) / 64) AS INT) AS win
  FROM idx),
fullw AS (
  SELECT doc_id, win FROM b GROUP BY doc_id, win HAVING count(*) = 64),
agg AS (
  SELECT b.doc_id, b.win, sum(b.s) AS sm, sum(b.s * b.s) AS sq
  FROM b JOIN fullw USING (doc_id, win) GROUP BY b.doc_id, b.win),
nz AS (
  SELECT doc_id, win, s < 0 AS neg,
    lag(s < 0) OVER (PARTITION BY doc_id, win ORDER BY i) AS pneg
  FROM b WHERE s <> 0),
zc AS (
  SELECT doc_id, win, count(*) FILTER (pneg IS NOT NULL AND neg <> pneg) AS z
  FROM nz GROUP BY doc_id, win)
SELECT a.doc_id AS media_id, a.win AS window_idx,
  a.sm / 64.0 AS mean64,
  CAST(a.sq AS BIGINT) AS sumsq,
  CAST(coalesce(z.z, 0) AS INT) AS zero_crossings
FROM agg a LEFT JOIN zc z ON a.doc_id = z.doc_id AND a.win = z.win
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# round-3 oracle gates: the previously pytest-only SURVEY rows
# ---------------------------------------------------------------------------

#: fixture level for vertex/neighbor/union gates; the (7.3, 5.1) and
#: (40.1, 20.7) nation offsets keep every level-8 cell >= 2 cells away
#: from any face boundary (checked numerically for all 25 nation keys),
#: so ij-offset neighbor oracles never have to model cross-face wrap.
_FIX_LEVEL = 8

_PTS_A = (
    "SELECT n_nationkey AS k, (n_nationkey %% 6) * 60.0 - 180.0 + %s AS lon, "
    "floor(n_nationkey / 6) * 30.0 - 60.0 + %s AS lat FROM nation"
)


def _nation_pts_sql(dx: float, dy: float) -> str:
    return _PTS_A % (dx, dy)


def _nation_xy(n="n_nationkey"):
    xmin = (F.col(n) % 6) * 60.0 - 180.0
    ymin = F.floor(F.col(n) / 6) * 30.0 - 60.0
    return xmin, ymin


def _q_prepare_gate(spark, sf_dir):
    """s2_prepare contract: '<S2ShapeIndex N b>' astext with N = the
    plain encoded size (reference src/s2_functions_io.cpp:365-385),
    small-geography passthrough (64-byte threshold, :373-379), and
    prepared-vs-plain predicate equality over inside/outside points
    (odd nation keys probe a point east of the box's meridian edge —
    exact in both engines, no latitude-bulge ambiguity)."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.io import (
        s2_astext,
        s2_geogfromtext,
        s2_prepare,
    )
    from duckdb_geography_spark.functions.predicates import (
        s2_contains,
        s2_intersects,
    )

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    xmin, ymin = _nation_xy()
    poly = s2_geogfromtext(synth.nation_wkt())
    pt = s2_geogfromtext(
        F.format_string(
            "POINT (%.1f %.1f)",
            xmin + 7.3 + (F.col("n_nationkey") % 2).cast("double") * 50.0,
            ymin + 5.1,
        )
    )
    small = s2_geogfromtext(F.format_string("POINT (%.1f %.1f)", xmin + 1.0, ymin + 1.0))
    staged = nation.select(
        "n_nationkey",
        poly.alias("g"),
        s2_prepare(poly).alias("pg"),
        pt.alias("pt"),
        s2_prepare(small).alias("small"),
    )
    return staged.select(
        "n_nationkey",
        (
            s2_astext("pg")
            == F.format_string("<S2ShapeIndex %d b>", F.octet_length("g"))
        ).alias("fmt_ok"),
        F.substring(s2_astext("small"), 1, 5).alias("small_head"),
        s2_contains("pg", "pt").alias("pin"),
        (s2_contains("pg", "pt") == s2_contains("g", "pt")).alias("eq_contains"),
        (s2_intersects("pg", "pt") == s2_intersects("g", "pt")).alias("eq_intersects"),
    ).orderBy("n_nationkey")


_PREPARE_GATE_SQL = """
SELECT n_nationkey, true AS fmt_ok, 'POINT' AS small_head,
       (n_nationkey % 2 = 0) AS pin,
       true AS eq_contains, true AS eq_intersects
FROM nation ORDER BY n_nationkey
"""


def _q_cellfromwkb_gate(spark, sf_dir):
    """s2_cellfromwkb / s2_arbitrarycellfromwkb (cell_ops.test:92-161):
    a WKB point extracts its leaf cell, a WKB linestring's FIRST vertex
    drives the arbitrary variant, and an empty point yields the
    sentinel. WKB is synthesized in-engine (aswkb of parsed WKT); the
    oracle recomputes the leaf ids with the recursive-CTE projection."""
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.casts import (
        s2_arbitrarycellfromwkb,
        s2_cellfromwkb,
    )
    from duckdb_geography_spark.functions.io import s2_aswkb, s2_geogfromtext

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    xmin, ymin = _nation_xy()
    pt = F.format_string("POINT (%.1f %.1f)", xmin + 7.3, ymin + 5.1)
    ln = F.format_string(
        "LINESTRING (%.1f %.1f, %.1f %.1f)", xmin, ymin, xmin + 55.0, ymin + 25.0
    )
    staged = nation.select(
        "n_nationkey",
        s2_aswkb(s2_geogfromtext(pt)).alias("wpt"),
        s2_aswkb(s2_geogfromtext(ln)).alias("wln"),
        s2_aswkb(s2_geogfromtext(F.lit("POINT EMPTY"))).alias("wempty"),
    )
    return staged.select(
        "n_nationkey",
        C.s2_cell_token(s2_cellfromwkb("wpt")).alias("pt_token"),
        C.s2_cell_token(s2_arbitrarycellfromwkb("wln")).alias("ln_token"),
        s2_arbitrarycellfromwkb("wempty").alias("empty_sentinel"),
    ).orderBy("n_nationkey")


def _cellfromwkb_sql():
    from duckdb_geography_spark import synth

    ln_pts = (
        "SELECT n_nationkey AS k, (n_nationkey % 6) * 60.0 - 180.0 AS lon, "
        "floor(n_nationkey / 6) * 30.0 - 60.0 AS lat FROM nation"
    )
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(_nation_pts_sql(7.3, 5.1))},
{synth.cellfromlonlat_cte(ln_pts, "_l").lstrip()}
SELECT a.k AS n_nationkey,
  {synth.cell_token_sql("a.cell")} AS pt_token,
  {synth.cell_token_sql("b.cell")} AS ln_token,
  CAST(-1 AS BIGINT) AS empty_sentinel
FROM cellids a JOIN cellids_l b ON b.k = a.k
ORDER BY a.k
"""


def _q_cell_vertex_gate(spark, sf_dir):
    """s2_cell_vertex k=0..3 (CCW from (u_lo, v_lo), reference
    src/s2_cell_ops.cpp:578-627) of the level-8 fixture cell; the
    oracle rebuilds the corner unit vectors from the inverse-Hilbert
    ij walk + st->uv quadratic + face frame."""
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.accessors import s2_x, s2_y
    from duckdb_geography_spark.functions.casts import s2_cell_vertex

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    xmin, ymin = _nation_xy()
    # two-step projection (r12, the pip_covering_join fix at guide
    # §4.4): s2_cell_parent references its argument ~11 times of bit
    # math, and composing the nondeterministic lonlat UDF inline left
    # ELEVEN copies of the same _cellfromlonlat call in the executed
    # plan; projecting the leaf first leaves exactly one
    staged = nation.select(
        "n_nationkey", C.s2_cellfromlonlat(xmin + 7.3, ymin + 5.1).alias("__leaf")
    ).select(
        "n_nationkey", C.s2_cell_parent("__leaf", _FIX_LEVEL).alias("c")
    )
    cols = ["n_nationkey"]
    out = staged
    for v in range(4):
        out = out.withColumn(f"v{v}", s2_cell_vertex(F.col("c"), v))
    for v in range(4):
        cols.append(F.round(s2_x(f"v{v}"), 6).alias(f"lon{v}"))
        cols.append(F.round(s2_y(f"v{v}"), 6).alias(f"lat{v}"))
    return out.select(*cols).orderBy("n_nationkey")


def _cell_vertex_sql():
    """The engine's s2_cell_vertex returns a point GEOGRAPHY, and the
    single-point encode snaps to the leaf cell center (~1e-9 deg), so
    the oracle replays the same snap: corner -> lon/lat -> leaf cell
    (forward CTE) -> center (inverse CTE) -> round."""
    from duckdb_geography_spark import synth

    long_rows = " UNION ALL ".join(
        f"SELECT k*10 + {v} AS k, degrees(atan2(y{v}, x{v})) AS lon, "
        f"degrees(atan2(z{v}, sqrt(x{v}*x{v}+y{v}*y{v}))) AS lat FROM corners"
        for v in range(4)
    )
    agg = ", ".join(
        f"max(CASE WHEN k % 10 = {v} THEN lon6 END) AS lon{v}, "
        f"max(CASE WHEN k % 10 = {v} THEN lat6 END) AS lat{v}"
        for v in range(4)
    )
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(_nation_pts_sql(7.3, 5.1))},
{synth.cellij_cte("SELECT k, cell FROM cellids").lstrip()},
{synth.cellcorners_cte("SELECT k, f, i, j FROM cij", _FIX_LEVEL).lstrip()},
{synth.cellfromlonlat_cte(long_rows, "_v").lstrip()},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_v", "_v").lstrip()},
snapped AS (
  SELECT k,
    round(degrees(atan2(y, x)), 6) AS lon6,
    round(degrees(atan2(z, sqrt(x*x + y*y))), 6) AS lat6
  FROM centers_v)
SELECT k // 10 AS n_nationkey, {agg}
FROM snapped GROUP BY k // 10 ORDER BY 1
"""


def _q_cell_neighbor_gate(spark, sf_dir):
    """s2_cell_edge_neighbor 0-3 (down/right/up/left,
    src/s2_cell_ops.cpp:904-932) as tokens + out-of-range sentinel;
    the oracle re-encodes the ij-offset neighbors through the
    forward-Hilbert CTE (fixture cells are interior, see _FIX_LEVEL)."""
    from duckdb_geography_spark.functions import cells as C

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    xmin, ymin = _nation_xy()
    # two-step projection (r12): one _cellfromlonlat evaluation, not
    # 11 — see _q_cell_vertex_gate
    staged = nation.select(
        "n_nationkey", C.s2_cellfromlonlat(xmin + 7.3, ymin + 5.1).alias("__leaf")
    ).select(
        "n_nationkey", C.s2_cell_parent("__leaf", _FIX_LEVEL).alias("c")
    )
    names = ["down", "right", "up", "left"]
    sel = ["n_nationkey"]
    for v, nm in enumerate(names):
        sel.append(C.s2_cell_token(C.s2_cell_edge_neighbor(F.col("c"), v)).alias(f"tok_{nm}"))
    sel.append(C.s2_cell_edge_neighbor(F.col("c"), 7).alias("oob_sentinel"))
    return staged.select(*sel).orderBy("n_nationkey")


def _cell_neighbor_sql():
    from duckdb_geography_spark import synth

    size = 1 << (30 - _FIX_LEVEL)
    nb = f"""
  SELECT k*10 + vid AS k, f,
    (i - (i % {size})) + CASE vid WHEN 1 THEN {size} WHEN 3 THEN -1 ELSE 0 END AS i,
    (j - (j % {size})) + CASE vid WHEN 0 THEN -1 WHEN 2 THEN {size} ELSE 0 END AS j
  FROM cij, (SELECT unnest([0,1,2,3]) AS vid)"""
    tok = synth.cell_token_sql(synth.cell_parent_sql("cell", _FIX_LEVEL))
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(_nation_pts_sql(7.3, 5.1))},
{synth.cellij_cte("SELECT k, cell FROM cellids").lstrip()},
{synth.cellfromfij_cte(nb, "_n").lstrip()}
SELECT k // 10 AS n_nationkey,
  max(CASE WHEN k % 10 = 0 THEN {tok} END) AS tok_down,
  max(CASE WHEN k % 10 = 1 THEN {tok} END) AS tok_right,
  max(CASE WHEN k % 10 = 2 THEN {tok} END) AS tok_up,
  max(CASE WHEN k % 10 = 3 THEN {tok} END) AS tok_left,
  CAST(-1 AS BIGINT) AS oob_sentinel
FROM cellids_n GROUP BY k // 10 ORDER BY 1
"""


def _q_cell_union_gate(spark, sf_dir):
    """LIST->S2_CELL_UNION normalize (4 siblings merge to the parent,
    contained cells drop, src/s2_cell_ops.cpp:95-132), the dissolved
    union border (S2_CELL_UNION->GEOGRAPHY), and the single-cell
    polygon cast. The oracle's areas come from the corner CTE's
    spherical excess: dissolve preserves area, so union area ==
    area(P) + area(Q) exactly."""
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.accessors import s2_area
    from duckdb_geography_spark.functions.casts import (
        s2_cell_to_cell_union,
        s2_cell_to_geography,
        s2_cell_union_normalize,
        s2_cell_union_to_geography,
    )

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    xmin, ymin = _nation_xy()
    # two-step projection (r12): the two lonlat UDF calls were inlined
    # into every parent/child bit-math reference (25 evaluations in
    # the executed plan); project the leaves once, then derive p/q and
    # the child list from plain columns — see _q_cell_vertex_gate
    leaves = nation.select(
        "n_nationkey",
        C.s2_cellfromlonlat(xmin + 7.3, ymin + 5.1).alias("__leaf_p"),
        C.s2_cellfromlonlat(xmin + 40.1, ymin + 20.7).alias("__leaf_q"),
    ).select(
        "n_nationkey",
        C.s2_cell_parent("__leaf_p", _FIX_LEVEL).alias("p"),
        C.s2_cell_parent("__leaf_q", _FIX_LEVEL).alias("q"),
    )
    lst = F.array(
        *[C.s2_cell_child(F.col("p"), k) for k in range(4)],
        F.col("q"),
        C.s2_cell_child(F.col("q"), 2),
    )
    staged = leaves.select(
        "n_nationkey",
        F.col("p"),
        s2_cell_union_normalize(lst).alias("norm"),
    )
    return staged.select(
        "n_nationkey",
        F.size("norm").alias("n_norm"),
        F.concat_ws(
            ",", F.array_sort(F.transform("norm", lambda c: C.s2_cell_token(c)))
        ).alias("toks"),
        F.round(s2_area(s2_cell_union_to_geography("norm")) / F.lit(1e6), 3).alias(
            "union_km2"
        ),
        F.round(s2_area(s2_cell_to_geography("p")) / F.lit(1e6), 3).alias("p_km2"),
        F.size(s2_cell_to_cell_union("p")).alias("singleton_n"),
    ).orderBy("n_nationkey")


def _cell_union_sql():
    from duckdb_geography_spark import synth

    parent = synth.cell_parent_sql("cell", _FIX_LEVEL)
    tok_a = synth.cell_token_sql(f"a.{'cell'}")
    # tokens of the two normalized cells, sorted lexicographically
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(_nation_pts_sql(7.3, 5.1))},
{synth.cellfromlonlat_cte(_nation_pts_sql(40.1, 20.7), "_b").lstrip()},
pcells AS (SELECT k, {parent} AS cell FROM cellids),
qcells AS (SELECT k, {parent} AS cell FROM cellids_b),
{synth.cellij_cte("SELECT k, cell FROM cellids").lstrip()},
{synth.cellij_cte("SELECT k, cell FROM cellids_b", "_b").lstrip()},
{synth.cellcorners_cte("SELECT k, f, i, j FROM cij", _FIX_LEVEL).lstrip()},
{synth.cellcorners_cte("SELECT k, f, i, j FROM cij_b", _FIX_LEVEL, "_b").lstrip()},
toks AS (
  SELECT p.k,
    {synth.cell_token_sql("p.cell")} AS tp,
    {synth.cell_token_sql("q.cell")} AS tq
  FROM pcells p JOIN qcells q USING (k)),
area_p AS (SELECT k, {synth.quad_excess_area_sql()} AS ap FROM corners),
area_q AS (SELECT k, {synth.quad_excess_area_sql()} AS aq FROM corners_b),
areas AS (
  SELECT k, ap, aq FROM area_p JOIN area_q USING (k))
SELECT t.k AS n_nationkey,
  2 AS n_norm,
  least(t.tp, t.tq) || ',' || greatest(t.tp, t.tq) AS toks,
  round((a.ap + a.aq) / 1e6, 3) AS union_km2,
  round(a.ap / 1e6, 3) AS p_km2,
  1 AS singleton_n
FROM toks t JOIN areas a ON a.k = t.k
ORDER BY t.k
"""


def _q_bounds_box_gate(spark, sf_dir):
    """s2_bounds_box with geodesic-edge latitude bulge
    (src/s2_bounds.cpp:147-202) on the nation rect, plus a polygon
    crossing the antimeridian (xmin > xmax wrap form). The oracle is
    the closed-form apex latitude atan(tan(|y|)/cos(dlon/2)) of an
    equal-latitude geodesic, with the engine's -180 -> 180
    normalization replayed."""
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.bounds import s2_bounds_box
    from duckdb_geography_spark.functions.io import s2_geogfromtext

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    xmin, ymin = _nation_xy()
    am = F.format_string(
        "POLYGON ((150 %.1f, -155 %.1f, -155 %.1f, 150 %.1f, 150 %.1f))",
        ymin, ymin, ymin + 25.0, ymin + 25.0, ymin,
    )
    staged = nation.select(
        "n_nationkey",
        s2_bounds_box(s2_geogfromtext(synth.nation_wkt())).alias("b"),
        s2_bounds_box(s2_geogfromtext(am)).alias("am"),
    )
    return staged.select(
        "n_nationkey",
        F.round(F.col("b.xmin"), 6).alias("xmin6"),
        F.round(F.col("b.ymin"), 6).alias("ymin6"),
        F.round(F.col("b.xmax"), 6).alias("xmax6"),
        F.round(F.col("b.ymax"), 6).alias("ymax6"),
        F.round(F.col("am.xmin"), 6).alias("am_xmin6"),
        F.round(F.col("am.xmax"), 6).alias("am_xmax6"),
        F.round(F.col("am.ymax"), 6).alias("am_ymax6"),
    ).orderBy("n_nationkey")


_BOUNDS_BOX_GATE_SQL = """
WITH g AS (
  SELECT n_nationkey,
    (n_nationkey % 6) * 60.0 - 180.0 AS x0,
    floor(n_nationkey / 6) * 30.0 - 60.0 AS y0,
    (n_nationkey % 6) * 60.0 - 180.0 + 55.0 AS x1,
    floor(n_nationkey / 6) * 30.0 - 60.0 + 25.0 AS y1
  FROM nation),
apex AS (
  SELECT n_nationkey, x0, y0, x1, y1,
    CASE WHEN y1 > 0 THEN degrees(atan(tan(radians(y1)) / cos(radians(27.5)))) ELSE y1 END AS ymax_b,
    CASE WHEN y0 < 0 THEN -degrees(atan(tan(radians(-y0)) / cos(radians(27.5)))) ELSE y0 END AS ymin_b
  FROM g)
SELECT n_nationkey,
  round(CASE WHEN x0 = -180.0 THEN 180.0 ELSE x0 END, 6) AS xmin6,
  round(ymin_b, 6) AS ymin6,
  round(x1, 6) AS xmax6,
  round(ymax_b, 6) AS ymax6,
  150.0 AS am_xmin6,
  -155.0 AS am_xmax6,
  round(CASE WHEN y1 > 0 THEN degrees(atan(tan(radians(y1)) / cos(radians(27.5)))) ELSE y1 END, 6) AS am_ymax6
FROM apex ORDER BY n_nationkey
"""


def _q_validity_gate(spark, sf_dir):
    """_novalidate parse paths + s2_is_valid / s2_is_valid_reason
    (accessors.test:33-40 pins 'Vertices %d and %d are identical'),
    carried through the WKB codec: odd nation keys parse a polyline
    with a duplicate adjacent vertex via novalidate, re-encode to WKB,
    re-parse via s2_geogfromwkb_novalidate, and both forms must report
    the same invalidity."""
    from duckdb_geography_spark.functions.accessors import (
        s2_is_valid,
        s2_is_valid_reason,
    )
    from duckdb_geography_spark.functions.io import (
        s2_aswkb,
        s2_geogfromtext_novalidate,
        s2_geogfromwkb_novalidate,
    )

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    xmin, ymin = _nation_xy()
    dup = F.format_string(
        "LINESTRING (%.1f %.1f, %.1f %.1f, %.1f %.1f)",
        xmin, ymin, xmin, ymin, xmin + 55.0, ymin + 25.0,
    )
    good = F.format_string(
        "LINESTRING (%.1f %.1f, %.1f %.1f)", xmin, ymin, xmin + 55.0, ymin + 25.0
    )
    wkt = F.when(F.col("n_nationkey") % 2 == 1, dup).otherwise(good)
    staged = nation.select(
        "n_nationkey", s2_geogfromtext_novalidate(wkt).alias("g")
    ).withColumn("g2", s2_geogfromwkb_novalidate(s2_aswkb(F.col("g"))))
    return staged.select(
        "n_nationkey",
        s2_is_valid("g").alias("valid_txt"),
        s2_is_valid_reason("g").alias("reason"),
        s2_is_valid("g2").alias("valid_wkb"),
        s2_is_valid_reason("g2").alias("reason_wkb"),
    ).orderBy("n_nationkey")


_VALIDITY_GATE_SQL = """
SELECT n_nationkey,
  (n_nationkey % 2 = 0) AS valid_txt,
  CASE WHEN n_nationkey % 2 = 1 THEN 'Vertices 0 and 1 are identical' ELSE '' END AS reason,
  (n_nationkey % 2 = 0) AS valid_wkb,
  CASE WHEN n_nationkey % 2 = 1 THEN 'Vertices 0 and 1 are identical' ELSE '' END AS reason_wkb
FROM nation ORDER BY n_nationkey
"""


def _q_debug_string_gate(spark, sf_dir):
    """S2_CELL <-> VARCHAR debug-string casts (cell_ops.test:169-178):
    'face/digits' render at leaf and level 8, the parse round-trip
    back to a token, and the malformed-string sentinel. The oracle
    renders the string with hugeint digit math over the CTE cell id."""
    from duckdb_geography_spark.functions import cells as C

    _prep(spark)
    nation = _t(spark, sf_dir, "nation").repartition(32)
    xmin, ymin = _nation_xy()
    leaf = C.s2_cellfromlonlat(xmin + 7.3, ymin + 5.1)
    c8 = C.s2_cell_parent(leaf, _FIX_LEVEL)
    staged = nation.select("n_nationkey", leaf.alias("leaf"), c8.alias("c8"))
    return staged.select(
        "n_nationkey",
        C.s2_cell_debug_string("c8").alias("dbg8"),
        C.s2_cell_debug_string("leaf").alias("dbg_leaf"),
        C.s2_cell_token(
            C.s2_cell_from_debug_string(C.s2_cell_debug_string("c8"))
        ).alias("rt_tok"),
        C.s2_cell_from_debug_string(F.lit("not/acell")).alias("bad_sentinel"),
    ).orderBy("n_nationkey")


def _debug_string_sql():
    from duckdb_geography_spark import synth

    p8 = synth.cell_parent_sql("cell", _FIX_LEVEL)
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(_nation_pts_sql(7.3, 5.1))}
SELECT k AS n_nationkey,
  {synth.cell_debug_string_sql(p8, _FIX_LEVEL)} AS dbg8,
  {synth.cell_debug_string_sql("cell", 30)} AS dbg_leaf,
  {synth.cell_token_sql(p8)} AS rt_tok,
  CAST(-1 AS BIGINT) AS bad_sentinel
FROM cellids ORDER BY k
"""


def _q_geoarrow_roundtrip(spark, sf_dir):
    """GeoArrow interop (src/s2_geoarrow.cpp): export the nation
    polygons to a pyarrow table whose column carries the geoarrow.wkb
    extension tag (spherical edges), import it back, and verify the
    geometry survives (spherical-excess area). The export/import pair
    runs driver-side over the 25-row dimension — the documented
    interop scope; write_geoparquet_dir is the distributed path."""
    from duckdb_geography_spark import geoarrow, synth
    from duckdb_geography_spark.functions.accessors import s2_area
    from duckdb_geography_spark.functions.io import s2_geogfromtext

    _prep(spark)
    nation = _t(spark, sf_dir, "nation")
    df = nation.select(
        "n_nationkey", s2_geogfromtext(synth.nation_wkt()).alias("geog")
    )
    tbl = geoarrow.to_geoarrow_table(df, "geog")
    meta = tbl.schema.field("geog").metadata or {}
    name_ok = meta.get(b"ARROW:extension:name") == b"geoarrow.wkb"
    edges_ok = b'"edges": "spherical"' in meta.get(b"ARROW:extension:metadata", b"") or (
        b"spherical" in meta.get(b"ARROW:extension:metadata", b"")
    )
    back = geoarrow.from_geoarrow_table(spark, tbl, "geog")
    return back.select(
        "n_nationkey",
        F.round(s2_area("geog") / F.lit(1e6), 3).alias("area_km2"),
        F.lit(bool(name_ok)).alias("meta_name_ok"),
        F.lit(bool(edges_ok)).alias("meta_edges_ok"),
    ).orderBy("n_nationkey")


def _nation_area_sql_select(alias="area_km2"):
    """Shared oracle fragment: spherical-excess area (km^2, 3 dp) of
    the nation rect — the same 2*atan2 triangle split as the engine."""
    from duckdb_geography_spark import synth

    return f"""
corners AS (
  SELECT n_nationkey,
    radians({synth.NATION_XMIN_SQL}) AS lx, radians({synth.NATION_YMIN_SQL}) AS ly,
    radians({synth.NATION_XMAX_SQL}) AS hx, radians({synth.NATION_YMAX_SQL}) AS hy
  FROM nation),
v AS (
  SELECT n_nationkey,
    cos(ly)*cos(lx) AS x0, cos(ly)*sin(lx) AS y0, sin(ly) AS z0,
    cos(ly)*cos(hx) AS x1, cos(ly)*sin(hx) AS y1, sin(ly) AS z1,
    cos(hy)*cos(hx) AS x2, cos(hy)*sin(hx) AS y2, sin(hy) AS z2,
    cos(hy)*cos(lx) AS x3, cos(hy)*sin(lx) AS y3, sin(hy) AS z3
  FROM corners),
tri AS (
  SELECT n_nationkey,
    2*atan2(
      x0*(y1*z2 - z1*y2) - y0*(x1*z2 - z1*x2) + z0*(x1*y2 - y1*x2),
      1 + (x0*x1+y0*y1+z0*z1) + (x1*x2+y1*y2+z1*z2) + (x2*x0+y2*y0+z2*z0)
    ) AS e1,
    2*atan2(
      x0*(y2*z3 - z2*y3) - y0*(x2*z3 - z2*x3) + z0*(x2*y3 - y2*x3),
      1 + (x0*x2+y0*y2+z0*z2) + (x2*x3+y2*y3+z2*z3) + (x3*x0+y3*y0+z3*z0)
    ) AS e2
  FROM v),
areas AS (
  SELECT n_nationkey,
    round(abs(e1 + e2) * 6371010.0 * 6371010.0 / 1e6, 3) AS {alias}
  FROM tri)
"""


def _geoarrow_roundtrip_sql():
    return f"""
WITH {_nation_area_sql_select().lstrip()}
SELECT n_nationkey, area_km2,
  true AS meta_name_ok, true AS meta_edges_ok
FROM areas ORDER BY n_nationkey
"""


def _q_data_tables_gate(spark, sf_dir):
    """Sample-data tables + lookups + dependency listing + s2() smoke
    (src/s2_data.cpp, src/s2_dependencies.cpp; data.test:23-39 pins
    the 243/177 cardinalities). One row: counts, the Vancouver point's
    snapped coordinates, Germany's polygon area, and the dependency
    names (versions excluded — environment-dependent)."""
    from duckdb_geography_spark.functions.accessors import s2_area, s2_x, s2_y
    from duckdb_geography_spark.functions.data import (
        s2,
        s2_data_cities,
        s2_data_countries,
        s2_dependencies,
    )

    _prep(spark)
    cities = s2_data_cities(spark)
    countries = s2_data_countries(spark)
    n_cities = cities.agg(F.count("*").alias("n_cities"))
    n_countries = countries.agg(F.count("*").alias("n_countries"))
    van = cities.where(F.col("name") == "Vancouver").select(
        F.round(s2_x("geog"), 6).alias("van_x6"),
        F.round(s2_y("geog"), 6).alias("van_y6"),
        F.col("population").alias("van_pop"),
    )
    ger = countries.where(F.col("name") == "Germany").select(
        F.round(s2_area("geog") / F.lit(1e6), 3).alias("germany_km2")
    )
    deps = s2_dependencies(spark).agg(
        F.count("*").alias("n_deps"),
        F.concat_ws(",", F.array_sort(F.collect_list("dependency"))).alias("dep_names"),
    )
    smoke = spark.range(1).select(s2(spark).alias("smoke"))
    # single-row combine: pad each piece to a common schema, union, and
    # take max per column — no join at all (a crossJoin/constant-key
    # join folds to BroadcastNestedLoopJoin, which the plan-shape
    # suite forbids even for 1x1 rows)
    fields = {
        "n_cities": "bigint",
        "n_countries": "bigint",
        "van_x6": "double",
        "van_y6": "double",
        "van_pop": "bigint",
        "germany_km2": "double",
        "n_deps": "bigint",
        "dep_names": "string",
        "smoke": "string",
    }
    pieces = []
    for piece in (n_cities, n_countries, van, ger, deps, smoke):
        have = set(piece.columns)
        pieces.append(
            piece.select(
                *[
                    (F.col(c) if c in have else F.lit(None)).cast(t).alias(c)
                    for c, t in fields.items()
                ]
            )
        )
    u = pieces[0]
    for p in pieces[1:]:
        u = u.unionAll(p)
    return u.agg(*[F.max(c).alias(c) for c in fields])


def _data_tables_sql():
    """Oracle: Vancouver's snap replayed by the recursive-CTE
    projection, Germany's area recomputed in SQL by the SAME fan-of-
    spherical-triangles formula (Van Oosterom & Strackee, difference
    form) over the RAW ring vertices read from the bundled Natural
    Earth TSV — not through the engine's geometry kernel, so the two
    sides stay independent."""
    import re as _re

    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions.data import (
        PINNED_CITIES,
        _countries_pdf,
    )

    van = next(r for r in PINNED_CITIES if r[0] == "Vancouver")
    lon, lat = van[2].replace("POINT (", "").rstrip(")").split()
    kdf = _countries_pdf()
    gwkt = kdf[kdf["name"] == "Germany"]["geog_wkt"].iloc[0]
    pairs = [
        (float(a), float(b))
        for a, b in _re.findall(r"(-?\d+\.?\d*) (-?\d+\.?\d*)", gwkt)
    ]
    if pairs[0] == pairs[-1]:
        pairs = pairs[:-1]  # drop the closing duplicate
    vals = ", ".join(f"({i}, {x!r}, {y!r})" for i, (x, y) in enumerate(pairs))
    n = len(pairs)
    area = f"""
gverts(i, lon, lat) AS (VALUES {vals}),
gxyz AS (
  SELECT i, cos(radians(lat))*cos(radians(lon)) AS x,
         cos(radians(lat))*sin(radians(lon)) AS y,
         sin(radians(lat)) AS z
  FROM gverts),
gv0 AS (SELECT x, y, z FROM gxyz WHERE i = 0),
gtri AS (
  SELECT 2*atan2(
      ((b.y - gv0.y)*(c.z - gv0.z) - (b.z - gv0.z)*(c.y - gv0.y)) * gv0.x
    + ((b.z - gv0.z)*(c.x - gv0.x) - (b.x - gv0.x)*(c.z - gv0.z)) * gv0.y
    + ((b.x - gv0.x)*(c.y - gv0.y) - (b.y - gv0.y)*(c.x - gv0.x)) * gv0.z,
      1 + (gv0.x*b.x + gv0.y*b.y + gv0.z*b.z)
        + (b.x*c.x + b.y*c.y + b.z*c.z)
        + (c.x*gv0.x + c.y*gv0.y + c.z*gv0.z)) AS e
  FROM gxyz b JOIN gxyz c ON c.i = b.i + 1 CROSS JOIN gv0
  WHERE b.i >= 1 AND c.i <= {n - 1}),
ger AS (SELECT abs(sum(e)) AS sr FROM gtri)"""
    pts = f"SELECT 0 AS k, {lon} AS lon, {lat} AS lat"
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(pts)},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids").lstrip()},
{area.lstrip()}
SELECT 243 AS n_cities, 177 AS n_countries,
  round(degrees(atan2(c.y, c.x)), 6) AS van_x6,
  round(degrees(atan2(c.z, sqrt(c.x*c.x + c.y*c.y))), 6) AS van_y6,
  {van[1]} AS van_pop,
  round(least(g.sr, 4*pi() - g.sr) * 6371010.0 * 6371010.0 / 1e6, 3) AS germany_km2,
  5 AS n_deps,
  'duckdb_geography_spark,numpy,pandas,pyarrow,pyspark' AS dep_names,
  's2' AS smoke
FROM centers c, ger g
"""


def _q_tsv_roundtrip(spark, sf_dir):
    """TSV ingestion with a WKT geography column (the reference's
    data.test:19-44 cities.tsv pattern): the query materializes a
    deterministic 25-row TSV from the nation keys, reads it back
    through read_tsv_geography, and reports the parsed (snapped)
    coordinates; the oracle replays the snap with the CTE projection."""
    import os as _os

    from duckdb_geography_spark.functions.accessors import s2_x, s2_y
    from duckdb_geography_spark.sources import read_tsv_geography

    _prep(spark)
    sf_tag = _os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = f"/tmp/duckdb_geography_spark_gates/{sf_tag}/nation_pts.tsv"
    _os.makedirs(_os.path.dirname(path), exist_ok=True)
    import pandas as _pd

    keys = _pd.read_parquet(f"{sf_dir}/nation.parquet", columns=["n_nationkey"])[
        "n_nationkey"
    ].sort_values()
    with open(path, "w") as fh:
        fh.write("k\tgeog\n")
        for k in keys:
            lon = (int(k) % 6) * 60.0 - 180.0 + 7.3
            lat = (int(k) // 6) * 30.0 - 60.0 + 5.1
            fh.write(f"{int(k)}\tPOINT ({lon:.1f} {lat:.1f})\n")
    df = read_tsv_geography(spark, path, wkt_col="geog")
    return df.select(
        F.col("k").cast("int").alias("n_nationkey"),
        F.round(s2_x("geog"), 6).alias("px6"),
        F.round(s2_y("geog"), 6).alias("py6"),
    ).orderBy("n_nationkey")


def _tsv_roundtrip_sql():
    from duckdb_geography_spark import synth

    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(_nation_pts_sql(7.3, 5.1))},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids").lstrip()}
SELECT CAST(k AS INT) AS n_nationkey,
  round(degrees(atan2(y, x)), 6) AS px6,
  round(degrees(atan2(z, sqrt(x*x + y*y))), 6) AS py6
FROM centers ORDER BY 1
"""


def _q_partitioned_sink_gate(spark, sf_dir):
    """Cell-token partitioned parquet sink + full read-back (the
    reference's COPY ... PARTITION_BY partition_cell recipe,
    docs/function-reference.md:748-768): per-partition-token customer
    counts must survive the write/read round-trip. Partition pruning
    on the token column is plan-asserted in tests/test_sources.py; the
    oracle recomputes every token with the CTE projection + parent."""
    import os as _os

    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.sources import write_partitioned_by_cell

    _prep(spark)
    sf_tag = _os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = f"/tmp/duckdb_geography_spark_gates/{sf_tag}/cust_by_cell"
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        C.s2_cellfromlonlat(synth.cust_lon(), synth.cust_lat()).alias("cell"),
    )
    write_partitioned_by_cell(cust, path, cell_col="cell", level=4)
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("partition_cell").cast("string").alias("partition_cell"))
        .agg(F.count("*").alias("n"))
        .orderBy("partition_cell")
    )


def _partitioned_sink_sql():
    from duckdb_geography_spark import synth

    pts = (
        f"SELECT c_custkey AS k, {synth.CUST_LON_SQL} AS lon, "
        f"{synth.CUST_LAT_SQL} AS lat FROM customer"
    )
    tok = synth.cell_token_sql(synth.cell_parent_sql("cell", 4))
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(pts)}
SELECT {tok} AS partition_cell, count(*) AS n
FROM cellids GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# repetition / decontamination / semdedup (round 3)
# ---------------------------------------------------------------------------

#: DuckDB twin of repetition.word_ngrams: 0-based window starts over a
#: regex-whitespace split, 1-based inclusive list slice
_NGRAM_CTE = """
w AS (SELECT doc_id, text, length(text) AS nc,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
g{n} AS (
  SELECT doc_id, nc, array_to_string(ws[i + 1:i + {n}], ' ') AS g
  FROM (SELECT doc_id, nc, ws, unnest(generate_series(0, len(ws) - {n})) AS i
        FROM w WHERE len(ws) >= {n}))
"""


def _q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition signals: per-document most-frequent
    word 2-gram + its character fraction, and the duplicated-2-gram
    character fraction (llm/repetition.py; Rae et al. 2021 table A1).
    Tie-break for the top gram is max(struct(count, gram)) — largest
    count, then lexicographically greatest gram — which the oracle
    replays with an ORDER BY count DESC, gram DESC window."""
    from duckdb_geography_spark.llm.repetition import repetition_signals

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return repetition_signals(docs, top_n=2, dup_n=2).orderBy("doc_id")


def _repetition_signals_sql():
    cte = _NGRAM_CTE.format(n=2)
    return f"""
WITH {cte},
cnt AS (
  SELECT doc_id, nc, g, count(*) AS c FROM g2 GROUP BY doc_id, nc, g),
top AS (
  SELECT doc_id, g, c FROM (
    SELECT doc_id, g, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
    FROM cnt) WHERE rn = 1),
dup AS (
  SELECT doc_id, count(*) AS ndup, sum(c * length(g)) AS dupchars
  FROM cnt WHERE c >= 2 GROUP BY doc_id)
SELECT d.doc_id,
  t.g AS top_gram,
  coalesce(t.c, 0) AS top_count,
  round(least(1.0, coalesce(t.c, 0) * length(coalesce(t.g, ''))
              / greatest(length(d.text), 1)), 6) AS top_ngram_char_frac,
  coalesce(u.ndup, 0) AS dup_ngram_count,
  round(least(1.0, coalesce(u.dupchars, 0)
              / greatest(length(d.text), 1)), 6) AS dup_ngram_char_frac
FROM documents d
LEFT JOIN top t ON d.doc_id = t.doc_id
LEFT JOIN dup u ON d.doc_id = u.doc_id
ORDER BY d.doc_id
"""


def _q_boilerplate(spark, sf_dir):
    """Corpus-level boilerplate: per-document fraction of distinct
    word 3-grams whose document frequency is >= 5 (the inverted-index
    build + df-filter every boilerplate/contamination pipeline runs;
    llm/repetition.py::boilerplate_frac)."""
    from duckdb_geography_spark.llm.repetition import boilerplate_frac

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return boilerplate_frac(docs, n=3, min_df=5).orderBy("doc_id")


def _boilerplate_sql():
    cte = _NGRAM_CTE.format(n=3)
    return f"""
WITH {cte},
per_doc AS (SELECT DISTINCT doc_id, g FROM g3),
df AS (
  SELECT g, count(*) AS doc_freq FROM per_doc GROUP BY g HAVING count(*) >= 5),
tot AS (SELECT doc_id, count(*) AS ngrams FROM per_doc GROUP BY doc_id),
hit AS (
  SELECT p.doc_id, count(*) AS nboiler
  FROM per_doc p JOIN df ON p.g = df.g GROUP BY p.doc_id)
SELECT d.doc_id,
  coalesce(t.ngrams, 0) AS n_grams,
  coalesce(h.nboiler, 0) AS n_boiler,
  round(coalesce(h.nboiler, 0) / greatest(coalesce(t.ngrams, 0), 1), 6)
    AS boilerplate_frac
FROM documents d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN hit h ON d.doc_id = h.doc_id
ORDER BY d.doc_id
"""


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any word
    8-gram with the held-out 'benchmark' slice (doc_id % 97 == 0,
    which includes the benchmark docs themselves — the self-hit is the
    sanity anchor). llm/prep.py::decontaminate; the GPT-3/PaLM/Llama
    n-gram-overlap leakage check as a gram-keyed semi-join."""
    from duckdb_geography_spark.llm.prep import decontaminate

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return (
        decontaminate(docs, bench, n=8)
        .select("doc_id", "contaminated")
        .orderBy("doc_id")
    )


def _decontaminate_sql(stream_m: int = 1):
    # stream_m > 1 = the stream gate's bounded corpus (the benchmark
    # gram set is still drawn from the FULL corpus slice, so only the
    # output side filters)
    cte = _NGRAM_CTE.format(n=8)
    return f"""
WITH {cte},
bench AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 97 = 0),
hits AS (
  SELECT DISTINCT doc_id FROM g8 JOIN bench USING (g))
SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {stream_m} = 0
ORDER BY d.doc_id
"""


def _q_semdedup(spark, sf_dir):
    """SemDedup (Abbas et al. 2023): trained spherical-k-means
    clusters (k=8, a 128-row md5-keyed hash sample), then
    within-cluster keep-earliest pruning at rounded cosine >= 0.40
    (the synthetic embeddings have no natural >0.52 pairs, so the
    gate threshold sits where real drops occur). The oracle replays
    training bit-for-bit and embeds the centroid literals
    (llm/dedup.py::semdedup)."""
    from duckdb_geography_spark.llm.dedup import semdedup
    from duckdb_geography_spark.llm.similarity import (
        ivf_training_sample,
        train_ivf_centroids,
    )

    _prep(spark)
    m = _bounded_mod(sf_dir, "embeddings")
    emb = _t(spark, sf_dir, "embeddings")
    if m > 1:  # bounded-output sf variant (see _bounded_gates)
        emb = emb.where(F.col("vec_id") % m == 0)
    cents = train_ivf_centroids(
        ivf_training_sample(emb, sample_size=128), n_centroids=8, seed=11
    )
    return semdedup(emb, cents, threshold=0.40).orderBy("vec_id")


def _semdedup_sql():
    import numpy as _np
    import pandas as _pd

    from duckdb_geography_spark.llm.similarity import train_ivf_centroids

    pdf = _pd.read_parquet(
        f"{_oracle_sf_dir()}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    m = _bounded_mod(_oracle_sf_dir(), "embeddings")
    if m > 1:  # training must see the same bounded input as Spark
        pdf = pdf[pdf["vec_id"] % m == 0]
    from duckdb_geography_spark.llm.similarity import training_sample_pandas

    sample = training_sample_pandas(pdf, sample_size=128)
    cents = train_ivf_centroids(sample, n_centroids=8, seed=11)
    vals = ",\n    ".join(
        f"({j + 1}, [" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[])"
        for j, c in enumerate(cents)
    )
    return f"""
WITH cents(j, c) AS (
  VALUES
    {vals}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id % {m} = 0),
asg AS (
  SELECT vec_id, v,
    (SELECT list(list_dot_product(v, c) ORDER BY j) FROM cents) AS cd
  FROM e),
clustered AS (
  SELECT vec_id, v, list_indexof(cd, list_max(cd)) AS cluster FROM asg),
losers AS (
  SELECT DISTINCT b.vec_id
  FROM clustered a JOIN clustered b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.40)
SELECT c.vec_id, c.cluster, l.vec_id IS NULL AS kept
FROM clustered c LEFT JOIN losers l ON c.vec_id = l.vec_id
ORDER BY c.vec_id
"""


def _q_sequence_packing(spark, sf_dir):
    """Sequence packing gate: chunk the corpus (400-char windows, no
    overlap so units sum exactly), hash-sample 30%% of docs
    (content-keyed md5), pack into 2048-char training windows across
    64 hash buckets, roll up per pack. The oracle replays bucket
    assignment (md5 digit math), the running-sum pack id, and the
    rollup with SQL window functions (llm/prep.py::pack_chunks,
    hash_sample)."""
    from duckdb_geography_spark.llm.prep import (
        chunk_documents,
        hash_sample,
        pack_chunks,
    )

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").where(hash_sample("text", rate_pct=30))
    chunks = chunk_documents(docs, chunk_chars=400, overlap=0)
    packed = pack_chunks(chunks, max_units=2048, buckets=64, hash_fn="md5")
    return (
        packed.groupBy("pack_bucket", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chars").alias("n_units"),
            F.min(F.struct("doc_id", "chunk_idx")).alias("__first"),
        )
        .select(
            "pack_bucket",
            "pack_id",
            "n_chunks",
            "n_units",
            F.col("__first.doc_id").alias("first_doc"),
            F.col("__first.chunk_idx").alias("first_chunk"),
        )
        .orderBy("pack_bucket", "pack_id")
    )


_SEQUENCE_PACKING_SQL = """
WITH sampled AS (
  SELECT doc_id, text FROM documents
  WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 30),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         length(substr(text, i * 400 + 1, 400)) AS n_chars
  FROM (SELECT doc_id, text,
               unnest(generate_series(0, (greatest(length(text) - 1, 0)) // 400)) AS i
        FROM sampled)
  WHERE length(substr(text, i * 400 + 1, 400)) > 0),
bucketed AS (
  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 64
           AS pack_bucket
  FROM chunks),
packed AS (
  SELECT *,
    (coalesce(sum(n_chars) OVER (PARTITION BY pack_bucket
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
      )::BIGINT AS pack_id
  FROM bucketed),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pack_bucket, pack_id
                               ORDER BY doc_id, chunk_idx) AS rn
  FROM packed)
SELECT pack_bucket, pack_id, count(*) AS n_chunks,
  sum(n_chars)::BIGINT AS n_units,
  max(CASE WHEN rn = 1 THEN doc_id END) AS first_doc,
  max(CASE WHEN rn = 1 THEN chunk_idx END) AS first_chunk
FROM ranked GROUP BY pack_bucket, pack_id ORDER BY pack_bucket, pack_id
"""


_BIGRAM_NLL_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents),
tr AS (
  SELECT doc_id,
    unnest(list_transform(ws[1:len(ws)-1],
           (x, i) -> {'prev': x, 'cur': ws[i+1]}), recursive := true)
  FROM w),
big AS (SELECT prev, cur, count(*) AS c FROM tr GROUP BY prev, cur),
ctx AS (SELECT prev, sum(c) AS cprev FROM big GROUP BY prev),
tot AS (SELECT count(DISTINCT cur) AS V FROM big),
per AS (
  SELECT t.doc_id, count(*) AS n,
    sum(CAST(round(ln(CAST(coalesce(x.cprev, 0) + tot.V AS DOUBLE)) * 1000000) AS BIGINT)
      - CAST(round(ln(CAST(coalesce(b.c, 0) + 1 AS DOUBLE)) * 1000000) AS BIGINT)) AS s
  FROM tr t
  LEFT JOIN big b ON t.prev = b.prev AND t.cur = b.cur
  LEFT JOIN ctx x ON t.prev = x.prev
  CROSS JOIN tot
  GROUP BY t.doc_id)
SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS n_trans,
       round(coalesce(CAST(p.s AS DOUBLE) / p.n / 1000000.0, 0.0), 6) AS nll,
       CAST(coalesce(p.s, 0) AS BIGINT) AS s_micro
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


_TRIGRAM_NLL_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents),
tr AS (
  SELECT doc_id,
    unnest(list_transform(ws[1:greatest(len(ws)-2, 0)],
           (x, i) -> {'prev': ws[i] || ' ' || ws[i+1], 'cur': ws[i+2]}),
           recursive := true)
  FROM w),
big AS (SELECT prev, cur, count(*) AS c FROM tr GROUP BY prev, cur),
ctx AS (SELECT prev, sum(c) AS cprev FROM big GROUP BY prev),
tot AS (SELECT count(DISTINCT cur) AS V FROM big),
per AS (
  SELECT t.doc_id, count(*) AS n,
    sum(CAST(round(ln(CAST(coalesce(x.cprev, 0) + tot.V AS DOUBLE)) * 1000000) AS BIGINT)
      - CAST(round(ln(CAST(coalesce(b.c, 0) + 1 AS DOUBLE)) * 1000000) AS BIGINT)) AS s
  FROM tr t
  LEFT JOIN big b ON t.prev = b.prev AND t.cur = b.cur
  LEFT JOIN ctx x ON t.prev = x.prev
  CROSS JOIN tot
  GROUP BY t.doc_id)
SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS n_trans,
       round(coalesce(CAST(p.s AS DOUBLE) / p.n / 1000000.0, 0.0), 6) AS nll,
       CAST(coalesce(p.s, 0) AS BIGINT) AS s_micro
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
ORDER BY d.doc_id
"""


_UNIGRAM_NLL_SQL = """
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents),
cnt AS (SELECT word, count(*) AS c FROM w GROUP BY word),
tot AS (SELECT sum(c) AS N, count(*) AS V FROM cnt),
model AS (
  SELECT word,
    (round(ln((N + V)::DOUBLE) * 1e6) - round(ln((c + 1)::DOUBLE) * 1e6))::BIGINT
      AS nll_micro
  FROM cnt, tot),
scored AS (
  SELECT w.doc_id, count(*) AS n, sum(m.nll_micro) AS sum_micro
  FROM w JOIN model m ON w.word = m.word
  GROUP BY w.doc_id)
SELECT d.doc_id,
  coalesce(s.n, 0) AS n_words,
  round(coalesce(s.sum_micro / s.n / 1e6, 0.0), 6) AS nll,
  CAST(coalesce(s.sum_micro, 0) AS BIGINT) AS s_micro
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


def _q_stream_decontaminate(spark, sf_dir):
    """STREAMING decontamination under the batch oracle: the document
    feed as an availableNow file stream, the benchmark n-gram set
    (doc_id % 97 == 0 slice) captured driver-side as a literal, the
    flag a stateless arrays_overlap — no join/agg/watermark, the shape
    that keeps up with any ingest rate. Must equal the batch
    decontaminate SQL exactly (streaming/events.py::
    stream_decontaminate)."""
    import uuid

    from duckdb_geography_spark.streaming import events as SE

    _prep(spark)
    bench = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 97 == 0)
    grams = SE.collect_benchmark_grams(bench, n=8)
    docs = SE.read_documents_stream(spark, sf_dir)
    # bounded-output sf variant (base=50k: full corpus through sf1 —
    # whose ~150s wall is proven — 1-in-m beyond; the 500k-doc sf10
    # stream blows the gate's 300s micro-batch budget; the benchmark
    # slice stays corpus-wide)
    m = _bounded_mod(sf_dir, "documents", base=50_000)
    if m > 1:
        docs = docs.where(F.col("doc_id") % m == 0)
    out = SE.stream_decontaminate(docs, grams, n=8).select(
        "doc_id", "contaminated"
    )
    qname = f"decon_gate_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_decontaminate did not finish in 300s")
    return spark.table(qname).orderBy("doc_id")


def _q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (llm/pq.py): deterministic
    per-subspace k-means on the 256 smallest vec_ids, one Arrow encode
    pass (64 floats -> 8 codes), then PURE-Column LUT scoring +
    TakeOrdered. The oracle replays training and the query LUT
    bit-for-bit (same numpy routines, sequential-add accumulation
    everywhere) and recomputes the codes in SQL from codebook
    literals."""
    from duckdb_geography_spark.llm.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )
    from duckdb_geography_spark.llm.similarity import ivf_training_sample

    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") != 0)
    # train-once memo (keyed like the table cache): a production corpus
    # trains at ingest and persists the codebooks beside the codes
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _PQ_CACHE.get(key)
    if hit is None:
        books = train_pq_codebooks(
            ivf_training_sample(base, sample_size=256), m=8, k=16, seed=7
        )
        q = _query_vec(sf_dir)
        hit = (books, [float(x) for x in q])
        if len(_PQ_CACHE) >= 8:
            _PQ_CACHE.clear()
        _PQ_CACHE[key] = hit
    books, qv = hit
    codes = pq_encode(base, books)
    return pq_topk(codes, qv, books, k=10)


_PQ_CACHE: dict = {}


def _q_incremental_dedup(spark, sf_dir):
    """Incremental corpus dedup: new-batch documents (odd doc_ids)
    whose content fingerprint was NOT already seen in the ingested
    corpus (even doc_ids) — a LEFT ANTI join on the md5 key, the
    snapshot-vs-delta shape every recurring crawl ingest runs. One
    hash shuffle on the 128-bit key (or a broadcast when the seen-set
    fits); no row widening — anti join only drops."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("fp")
    ).distinct()
    batch = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("fp")
    )
    return (
        batch.join(seen, "fp", "left_anti").select("doc_id").orderBy("doc_id")
    )


_INCREMENTAL_DEDUP_SQL = """
SELECT doc_id FROM documents b
WHERE doc_id % 2 = 1
  AND NOT EXISTS (
    SELECT 1 FROM documents s
    WHERE s.doc_id % 2 = 0 AND md5(s.text) = md5(b.text))
ORDER BY doc_id
"""


def _q_funnel(spark, sf_dir):
    """view -> click -> purchase funnel per user (streaming/events.py::
    funnel_stages: linear greedy subsequence fold per user). Output is
    the stage histogram; the oracle computes each user's stage with
    chained strictly-increasing EXISTS joins — equal by the greedy-
    optimality of subsequence embedding."""
    from duckdb_geography_spark.streaming.events import funnel_stages

    _prep(spark)
    # first-36-hours slice: with the full 3-week span every user
    # completes the funnel and the histogram is a single row
    ev = _t(spark, sf_dir, "events").where(
        F.col("ts") < F.lit("2024-01-02 12:00:00").cast("timestamp")
    )
    stages = funnel_stages(ev, ["view", "click", "purchase"])
    return (
        stages.groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("stage")
    )


_FUNNEL_SQL = """
WITH s AS (
  SELECT u.user_id,
    CASE
      WHEN EXISTS (
        SELECT 1 FROM (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-02 12:00:00') v
        JOIN (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-02 12:00:00') c ON c.user_id = v.user_id AND c.event_type = 'click' AND c.ts > v.ts
        JOIN (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-02 12:00:00') p ON p.user_id = v.user_id AND p.event_type = 'purchase' AND p.ts > c.ts
        WHERE v.user_id = u.user_id AND v.event_type = 'view') THEN 3
      WHEN EXISTS (
        SELECT 1 FROM (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-02 12:00:00') v
        JOIN (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-02 12:00:00') c ON c.user_id = v.user_id AND c.event_type = 'click' AND c.ts > v.ts
        WHERE v.user_id = u.user_id AND v.event_type = 'view') THEN 2
      WHEN EXISTS (
        SELECT 1 FROM (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-02 12:00:00') v
        WHERE v.user_id = u.user_id AND v.event_type = 'view') THEN 1
      ELSE 0 END AS stage
  FROM (SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-02 12:00:00') u)
SELECT stage, count(*) AS n_users FROM s GROUP BY stage ORDER BY stage
"""


def _q_corpus_curation(spark, sf_dir):
    """End-to-end curation pipeline (llm/pipeline.py::curate_corpus):
    exact dedup -> md5-minhash near-dup removal (16-band LSH
    candidates + exact 5-gram Jaccard >= 0.7, greedy
    keep-smaller-key) -> C4/Gopher quality filter -> PII redaction.
    The oracle replays every stage in one SQL chain, so a wrong
    survivor set, a mis-refined pair, or a perturbed redaction all
    break the hash."""
    from duckdb_geography_spark.llm.pipeline import curate_corpus

    _prep(spark)
    m = _bounded_mod(sf_dir, "documents")
    docs = _t(spark, sf_dir, "documents")
    if m > 1:  # bounded-output sf variant (see _bounded_gates)
        docs = docs.where(F.col("doc_id") % m == 0)
    out = curate_corpus(
        docs.select("doc_id", "text"),
        threshold=0.7,
        bands=16,
        hash_fn="md5",
        max_bucket=500,
    )
    return out.select(
        "doc_id", F.md5("text_clean").alias("clean_fp")
    ).orderBy("doc_id")


def _curation_sql():
    from duckdb_geography_spark.llm.dedup import _MERSENNE61, _perm_coeffs
    from duckdb_geography_spark.llm.prep import PII_PATTERNS

    a, b = _perm_coeffs(64, 42)
    mins = ",\n    ".join(
        f"min((h * {int(a[k])} + {int(b[k])}) % {_MERSENNE61}) AS m{k}"
        for k in range(64)
    )
    # 16 bands of 4 rows — curate_corpus's recall-correct default
    band_key = lambda bi: "concat_ws(',', " + ", ".join(  # noqa: E731
        f"m{bi * 4 + r}" for r in range(4)
    ) + ")"
    bucket_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, {band_key(bi)} AS bk FROM sig"
        for bi in range(16)
    )
    red = "text"
    for pat, rep in PII_PATTERNS:
        pat_sql = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{pat_sql}', '{rep}', 'g')"
    m = _bounded_mod(_oracle_sf_dir(), "documents")
    return f"""
WITH ex AS (
  SELECT min(doc_id) AS doc_id FROM documents
  WHERE doc_id % {m} = 0 GROUP BY md5(text)),
d1 AS (
  SELECT d.doc_id, d.text FROM documents d JOIN ex USING (doc_id)),
sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
  FROM (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 4, 0))) AS i
        FROM d1)),
hs AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT & 2147483647 AS h FROM sh),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hs GROUP BY doc_id),
buckets AS (
  {bucket_union}
),
elig AS (
  SELECT band, bk FROM buckets GROUP BY band, bk
  HAVING count(*) BETWEEN 2 AND 500),
eb AS (
  SELECT b.doc_id, b.band, b.bk
  FROM buckets b JOIN elig e ON b.band = e.band AND b.bk = e.bk),
cand AS (
  SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b
  FROM eb a JOIN eb b ON a.band = b.band AND a.bk = b.bk
  WHERE a.doc_id < b.doc_id),
grams AS (
  SELECT doc_id, list(g) AS gs FROM sh GROUP BY doc_id),
losers AS (
  SELECT DISTINCT c.key_b AS doc_id
  FROM cand c JOIN grams ga ON c.key_a = ga.doc_id
              JOIN grams gb ON c.key_b = gb.doc_id
  WHERE CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
        / nullif(len(list_distinct(list_concat(ga.gs, gb.gs))), 0) >= 0.7),
d2 AS (
  SELECT * FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
toks AS (
  SELECT doc_id, text,
    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws
  FROM d2),
m AS (
  SELECT doc_id, text,
    len(ws) AS n_tok,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE CAST(list_aggregate(list_transform(ws, t -> length(t)), 'sum') AS DOUBLE)
              / len(ws) END AS mwl,
    CASE WHEN len(ws) = 0 THEN 0.0
         ELSE 1.0 - CAST(len(list_distinct(list_transform(ws, t -> lower(t)))) AS DOUBLE)
              / len(ws) END AS dup_r,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
              / length(text) END AS digit_r
  FROM toks)
SELECT doc_id, md5({red}) AS clean_fp
FROM m
WHERE n_tok >= 5 AND n_tok <= 100000 AND mwl >= 2.0 AND mwl <= 12.0
  AND dup_r <= 0.6 AND digit_r <= 0.3
ORDER BY doc_id
"""


def _q_stream_neardup(spark, sf_dir):
    """Streaming windowed near-dup ownership (streaming/events.py::
    windowed_neardup_owners + neardup_novel): documents get a
    deterministic synthetic event time (doc_id minutes past a fixed
    epoch), stream through an append-mode tumbling-window min-owner
    aggregation, and the finisher keeps docs owning ALL 8 band
    buckets in their hour. Ownership is min-(ts,key), so the result
    is micro-batch-order independent and the oracle replays it as a
    plain GROUP BY (ts is monotone in doc_id, so min-(ts,key) ==
    min(doc_id)); append mode only flushes windows whose end the
    final watermark passed, which the oracle mirrors with the same
    max(ts)-1s cutoff."""
    import tempfile
    import uuid

    from duckdb_geography_spark.streaming.events import (
        neardup_novel,
        windowed_neardup_owners,
    )

    _prep(spark)
    # bounded-output sf variant (base=50k: full corpus through sf1 —
    # whose wall is proven — 500k signatures at sf10 blow the 300s
    # micro-batch budget)
    m = _bounded_mod(sf_dir, "documents", base=50_000)
    docs = _t(spark, sf_dir, "documents")
    if m > 1:
        docs = docs.where(F.col("doc_id") % m == 0)
    docs = docs.select(
        "doc_id",
        "text",
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,doc_id,0)"
        ).alias("ts"),
    )
    d = tempfile.mkdtemp(prefix="nd_gate_")
    # stage as MANY files: the streaming scan assigns ~one task per
    # file, and the per-row minhash signature (64 interpreted perms)
    # is the stage's cost — coalesce(1) made the sf1 replay compute
    # 50k signatures on a single core and blow the 300 s timeout.
    # Ownership is min-(ts,key), so the result is file/batch-order
    # independent.
    docs.repartition(32).write.mode("overwrite").parquet(d)
    schema = spark.read.parquet(d).schema
    src = spark.readStream.schema(schema).parquet(d)
    owners = windowed_neardup_owners(
        src, bands=8, num_perm=64, hash_fn="md5", watermark="1 second"
    )
    qname = f"nd_gate_{uuid.uuid4().hex[:8]}"
    q = (
        owners.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_neardup did not finish in 300s")
    novel = neardup_novel(spark.table(qname), bands=8)
    return novel.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_s"),
        "doc_id",
    ).orderBy("doc_id")


def _stream_neardup_sql():
    from duckdb_geography_spark.llm.dedup import _MERSENNE61, _perm_coeffs

    a, b = _perm_coeffs(64, 42)
    mins = ",\n    ".join(
        f"min((h * {int(a[k])} + {int(b[k])}) % {_MERSENNE61}) AS m{k}"
        for k in range(64)
    )
    band_key = lambda bi: "concat_ws(',', " + ", ".join(  # noqa: E731
        f"m{bi * 8 + r}" for r in range(8)
    ) + ")"
    bucket_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, {band_key(bi)} AS bk FROM sig"
        for bi in range(8)
    )
    m = _bounded_mod(_oracle_sf_dir(), "documents", base=50_000)
    return f"""
WITH d AS (
  SELECT doc_id, text,
         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT)) AS ts
  FROM documents WHERE doc_id % {m} = 0),
mx AS (SELECT max(ts) AS m FROM d),
sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 5) AS g
  FROM (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 4, 0))) AS i
        FROM d)),
hs AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT & 2147483647 AS h FROM sh),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hs GROUP BY doc_id),
buckets AS (
  {bucket_union}
),
w AS (
  SELECT b.doc_id, date_trunc('hour', d.ts) AS ws, b.band, b.bk
  FROM buckets b JOIN d ON b.doc_id = d.doc_id),
own AS (
  SELECT ws, band, bk, min(doc_id) AS owner FROM w GROUP BY ws, band, bk),
nov AS (
  SELECT ws, owner AS doc_id FROM own GROUP BY ws, owner HAVING count(*) = 8)
SELECT strftime(n.ws, '%Y-%m-%d %H:%M:%S') AS window_s, n.doc_id
FROM nov n, mx
WHERE n.ws + INTERVAL 1 HOUR <= mx.m - INTERVAL 1 SECOND
ORDER BY n.doc_id
"""


def _q_weighted_mix(spark, sf_dir):
    """Deterministic weighted source mix (llm/prep.py::weighted_mix):
    four sources at different rates, the rest dropped; per-source
    counts prove the rates, per-source min doc_id pins membership."""
    from duckdb_geography_spark.llm.prep import weighted_mix

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    mixed = weighted_mix(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
    )
    return (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("source")
    )


_WEIGHTED_MIX_SQL = """
WITH b AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket
  FROM documents)
SELECT source, count(*) AS n_docs, min(doc_id) AS min_doc,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM b
WHERE (source = 'src0' AND bucket < 10000)
   OR (source = 'src1' AND bucket < 5000)
   OR (source = 'src2' AND bucket < 2500)
   OR (source = 'src3' AND bucket < 1000)
GROUP BY source ORDER BY source
"""


def _q_dedup_lines(spark, sf_dir):
    """Line-level boilerplate removal over synthesized multi-line docs
    (each doc gets its unique text plus planted boilerplate lines that
    recur across a third/half of the corpus). dedup_lines drops lines
    with document frequency > 10 and reassembles in order — the CCNet
    pass document-level dedup cannot do."""
    from duckdb_geography_spark.llm.prep import dedup_lines

    _prep(spark)
    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.when(d % 3 == 0, F.lit("Subscribe to our newsletter!")).otherwise(
                F.concat(F.lit("unique tail "), d.cast("string"))
            ),
            F.lit("\n"),
            F.when(d % 2 == 0, F.lit("Copyright 2024 Example Corp")).otherwise(
                F.concat(F.lit("line "), d.cast("string"))
            ),
        ).alias("text"),
    )
    return dedup_lines(docs, max_df=10).orderBy("doc_id")


_DEDUP_LINES_SQL = """
WITH base AS (
  SELECT doc_id,
    text || chr(10)
    || CASE WHEN doc_id % 3 = 0 THEN 'Subscribe to our newsletter!'
            ELSE 'unique tail ' || CAST(doc_id AS VARCHAR) END
    || chr(10)
    || CASE WHEN doc_id % 2 = 0 THEN 'Copyright 2024 Example Corp'
            ELSE 'line ' || CAST(doc_id AS VARCHAR) END AS t
  FROM documents),
ls AS (
  SELECT doc_id,
    unnest(list_transform(string_split(t, chr(10)),
           (x, i) -> {'pos': i, 'line': x}), recursive := true)
  FROM base),
freq AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS dfc
    FROM ls WHERE length(line) >= 1 GROUP BY line)
  WHERE dfc > 10),
kept AS (SELECT * FROM ls WHERE line NOT IN (SELECT line FROM freq)),
re AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
         count(*) AS n_lines_kept
  FROM kept GROUP BY doc_id)
SELECT b.doc_id, coalesce(re.text_clean, '') AS text_clean,
       CAST(coalesce(re.n_lines_kept, 0) AS BIGINT) AS n_lines_kept
FROM base b LEFT JOIN re ON b.doc_id = re.doc_id
ORDER BY b.doc_id
"""


def _q_stratified_sample(spark, sf_dir):
    """Balanced per-language draw: 25 docs per lang, ranked by the md5
    of the doc key — deterministic, engine-portable, stable across
    reruns (llm/prep.py::stratified_sample). One stratum-key shuffle."""
    from duckdb_geography_spark.llm.prep import stratified_sample

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, strata_col="lang", n_per_stratum=25)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


_STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents) WHERE rk <= 25
ORDER BY doc_id
"""


def _q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement: the
    top-50 documents by priority ln(u)/w where u is the 60-bit md5
    key hash and w = n_chars (llm/prep.py::weighted_sample). The
    selection is one map-side priority column + TakeOrderedAndProject
    — no full sort at any scale. Integer micronat ln keeps the
    priority bit-identical across engines."""
    from duckdb_geography_spark.llm.prep import weighted_sample

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars").cast("long"), F.lit(1).cast("long"))
    return (
        weighted_sample(docs, w, k=50, key_col="doc_id")
        .select("doc_id", "lang", "__priority")
        .orderBy("doc_id")
    )


# ln(2^60) in micronats — the constant weighted_sample subtracts so
# priorities are <= 0 (u in (0,1]); DuckDB replays the same integers.
_WEIGHTED_SAMPLE_SQL = """
WITH h AS (
  SELECT doc_id, lang,
         greatest(CAST(n_chars AS BIGINT), 1) AS w,
         greatest(CAST(concat('0x',
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), 1) AS hv
  FROM documents),
p AS (
  SELECT doc_id, lang,
         round((round(ln(CAST(hv AS DOUBLE)) * 1000000) - 41588831) / w,
               9) AS __priority
  FROM h
  ORDER BY __priority DESC, doc_id
  LIMIT 50)
SELECT doc_id, lang, __priority FROM p ORDER BY doc_id
"""


def _q_weighted_stratified(spark, sf_dir):
    """Per-language weighted quota draw: an independent
    Efraimidis-Spirakis sample of 10 docs inside every lang stratum,
    weighted by n_chars (llm/prep.py::weighted_sample_per_group).
    ONE shuffle on the stratum key; rank is partition-local."""
    from duckdb_geography_spark.llm.prep import weighted_sample_per_group

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars").cast("long"), F.lit(1).cast("long"))
    return (
        weighted_sample_per_group(
            docs, w, strata_col="lang", n_per_stratum=10, key_col="doc_id"
        )
        .select("doc_id", "lang", "__priority")
        .orderBy("doc_id")
    )


def _q_token_budget(spark, sf_dir, base=None):
    """Per-stratum fill-to-TOKEN-budget sampling
    (llm/prep.py::sample_to_token_budget): Efraimidis-Spirakis-ranked
    documents kept while the running token total is under the budget
    — the "N tokens of web, M of code" corpus-mixing primitive. One
    shuffle on the stratum key; the crossing document is included
    (overshoot bounded by one doc). The oracle replays the exact
    integer priority and the ROWS UNBOUNDED PRECEDING AND 1 PRECEDING
    running sum."""
    from duckdb_geography_spark.llm.prep import sample_to_token_budget

    if base is not None:
        d = base.select("doc_id", "source", "wc")
    else:
        docs = _t(spark, sf_dir, "documents")
        wc = F.size(
            F.filter(
                F.split(F.trim(F.col("text")), "\\s+"), lambda x: x != F.lit("")
            )
        )
        d = docs.select("doc_id", "source", wc.alias("wc")).where(
            F.col("wc") > 0
        )
    out = sample_to_token_budget(
        d, "wc", 600, strata_col="source", key_col="doc_id", salt="tb"
    )
    return out.select(
        "doc_id", "source", "wc", "tokens_before", "__priority"
    ).orderBy("doc_id")


def _q_token_budget_global(spark, sf_dir, base=None):
    """GLOBAL fill-to-token-budget sampling WITHOUT a global sort
    (llm/prep.py::sample_to_token_budget_global): a bounded
    priority-bucket histogram finds the crossing bucket, buckets
    before it keep whole, and only the boundary sliver runs the exact
    running-sum window — selection provably identical to the full
    sort, which is exactly how the DuckDB oracle replays it."""
    from duckdb_geography_spark.llm.prep import sample_to_token_budget_global

    if base is not None:
        d = base.select("doc_id", "wc")
    else:
        docs = _t(spark, sf_dir, "documents")
        wc = F.size(
            F.filter(
                F.split(F.trim(F.col("text")), "\\s+"), lambda x: x != F.lit("")
            )
        )
        d = docs.select("doc_id", wc.alias("wc")).where(F.col("wc") > 0)
    out = sample_to_token_budget_global(
        d, "wc", 6_000, key_col="doc_id", salt="tg"
    )
    return out.select("doc_id", "wc", "__priority").orderBy("doc_id")


_TOKEN_BUDGET_GLOBAL_SQL = """
WITH d AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS wc
  FROM documents),
d2 AS (SELECT * FROM d WHERE wc > 0),
p AS (
  SELECT doc_id, wc,
    round((round(ln(CAST(greatest(CAST(concat('0x',
        substr(md5(concat('tg', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT),
        1) AS DOUBLE)) * 1000000) - 41588831) / 1, 9) AS __priority
  FROM d2),
c AS (
  SELECT doc_id, wc, __priority,
    coalesce(SUM(wc) OVER (
      ORDER BY __priority DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
  FROM p)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(wc AS INT) AS wc, __priority
FROM c WHERE tokens_before < 6000 ORDER BY doc_id
"""


_TOKEN_BUDGET_SQL = """
WITH d AS (
  SELECT doc_id, source,
    len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS wc
  FROM documents),
d2 AS (SELECT * FROM d WHERE wc > 0),
p AS (
  SELECT doc_id, source, wc,
    round((round(ln(CAST(greatest(CAST(concat('0x',
        substr(md5(concat('tb', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT),
        1) AS DOUBLE)) * 1000000) - 41588831) / 1, 9) AS __priority
  FROM d2),
c AS (
  SELECT doc_id, source, wc, __priority,
    coalesce(SUM(wc) OVER (
      PARTITION BY source ORDER BY __priority DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
  FROM p)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, CAST(wc AS INT) AS wc,
       CAST(tokens_before AS BIGINT) AS tokens_before, __priority
FROM c WHERE tokens_before < 600 ORDER BY doc_id
"""


_WEIGHTED_STRATIFIED_SQL = """
WITH h AS (
  SELECT doc_id, lang,
         greatest(CAST(n_chars AS BIGINT), 1) AS w,
         greatest(CAST(concat('0x',
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), 1) AS hv
  FROM documents),
p AS (
  SELECT doc_id, lang,
         round((round(ln(CAST(hv AS DOUBLE)) * 1000000) - 41588831) / w,
               9) AS __priority
  FROM h),
r AS (
  SELECT doc_id, lang, __priority,
         row_number() OVER (
           PARTITION BY lang ORDER BY __priority DESC, doc_id) AS rk
  FROM p)
SELECT doc_id, lang, __priority FROM r WHERE rk <= 10 ORDER BY doc_id
"""


def _q_zorder_layout(spark, sf_dir):
    """Morton z-value over (user_id, value-cents) for every event —
    the multi-dimensional clustering key behind z-ordered data
    skipping (sources.py::zorder_value / write_zordered). Pure
    JVM-side bit math; integer adds make it bit-exact in any engine."""
    from duckdb_geography_spark.sources import zorder_value

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long").bitwiseAND(F.lit(65535))
    uid = F.col("user_id").cast("long").bitwiseAND(F.lit(65535))
    return (
        ev.select(
            "event_id",
            zorder_value([uid, cents], bits=16).alias("zval"),
        )
        .orderBy("event_id")
    )


def _zorder_layout_sql():
    from duckdb_geography_spark.sources import zorder_sql

    z = zorder_sql(
        [
            "(CAST(user_id AS BIGINT) & 65535)",
            "(CAST(round(value * 100) AS BIGINT) & 65535)",
        ],
        bits=16,
    )
    return f"SELECT event_id, {z} AS zval FROM events ORDER BY event_id"


def _pq_topk_sql():
    """PQ oracle: training + LUT replayed driver-side from the sf0.01
    parquet (the driver's correctness scale), codes recomputed in SQL
    from codebook literals with the same sequential-add distance
    expression and first-wins argmin (row_number over (dist, j));
    ADC = left-associative 8-term sum of per-subspace LUT picks,
    matching pq_score's Column chain float-for-float."""
    import numpy as _np
    import pandas as _pd

    from duckdb_geography_spark.llm.pq import pq_adc_lut, train_pq_codebooks

    pdf = _pd.read_parquet(
        f"{_oracle_sf_dir()}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    from duckdb_geography_spark.llm.similarity import training_sample_pandas

    X = training_sample_pandas(pdf[pdf["vec_id"] != 0], sample_size=256)
    books = train_pq_codebooks(X, m=8, k=16, seed=7)
    qv = [float(x) for x in pdf[pdf["vec_id"] == 0]["embedding"].iloc[0]]
    lut = pq_adc_lut(qv, books)
    m, k, ds = books.shape
    rows = []
    for s in range(m):
        for j in range(k):
            cs = ", ".join(repr(float(c)) for c in books[s, j])
            # ::DOUBLE: DuckDB types a bare high-precision decimal
            # literal as DECIMAL(18,x) — whose additions can overflow at
            # larger sf and whose arithmetic would not be the
            # float-for-float replay of pq_score's double chain
            rows.append(f"({s + 1}, {j}, [{cs}]::DOUBLE[], {lut[s, j]!r}::DOUBLE)")
    vals = ",\n    ".join(rows)
    dist = " + ".join(
        f"(list_extract(v, (s-1)*{ds} + {i + 1}) - list_extract(c, {i + 1}))"
        f" * (list_extract(v, (s-1)*{ds} + {i + 1}) - list_extract(c, {i + 1}))"
        for i in range(ds)
    )
    lsum = " + ".join(f"l{s + 1}" for s in range(m))
    lcols = ",\n    ".join(
        f"max(CASE WHEN s = {s + 1} THEN l END) AS l{s + 1}" for s in range(m)
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id <> 0),
cents(s, j, c, l) AS (
  VALUES
    {vals}
),
d AS (
  SELECT e.vec_id, cents.s, cents.j, cents.l, {dist} AS dist
  FROM e, cents),
codes AS (
  SELECT vec_id, s, l FROM (
    SELECT vec_id, s, l,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
    FROM d) WHERE rn = 1),
piv AS (
  SELECT vec_id,
    {lcols}
  FROM codes GROUP BY vec_id)
SELECT vec_id, round({lsum}, 6) AS adc
FROM piv ORDER BY adc, vec_id LIMIT 10
"""


def _url_synth_col():
    """Deterministically messy URL per document (both engines build the
    identical string): mixed case, optional userinfo, explicit default
    port, trailing slashes, tracking params, fragments — every branch
    of normalize_url exercised."""
    d = F.col("doc_id")
    return F.concat(
        F.lit("HTTPS://"),
        F.when(d % 4 == 0, F.lit("user@")).otherwise(F.lit("")),
        F.lit("WWW."),
        F.col("source"),
        F.lit(".ExAmple.COM"),
        F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"),
        (d % 7).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?id="),
        d.cast("string"),
        F.when(d % 5 == 0, F.lit("&utm_source=feed")).otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("&x=1")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("#Frag")).otherwise(F.lit("")),
    )


_URL_SYNTH_SQL = """
  'HTTPS://' || CASE WHEN doc_id % 4 = 0 THEN 'user@' ELSE '' END
  || 'WWW.' || source || '.ExAmple.COM'
  || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END
  || '/Docs/' || CAST(doc_id % 7 AS VARCHAR)
  || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
  || '?id=' || CAST(doc_id AS VARCHAR)
  || CASE WHEN doc_id % 5 = 0 THEN '&utm_source=feed' ELSE '' END
  || CASE WHEN doc_id % 6 = 0 THEN '&x=1' ELSE '' END
  || CASE WHEN doc_id % 4 = 0 THEN '#Frag' ELSE '' END
"""


def _web_parts(spark, sf_dir):
    """The ONE url parse/canonicalize projection both web operators
    derive from (r12): doc_id, url, host, domain, path, norm — pure
    Column regex chains (llm/web.py) whose patterns stay inside the
    Java-regex/RE2 common subset so the DuckDB twin replays them
    verbatim."""
    from duckdb_geography_spark.llm import web as W

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    u = docs.withColumn("url", _url_synth_col())
    return u.select(
        "doc_id",
        "url",
        W.url_host("url").alias("host"),
        W.registered_domain(W.url_host("url")).alias("domain"),
        W.url_path("url").alias("path"),
        W.normalize_url("url").alias("norm"),
    )


_URL_OPS_SQL = f"""
WITH u AS (
  SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents
), parts AS (
  SELECT doc_id, url,
    regexp_replace(lower(regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]+)', 1)),
      ':[0-9]+$', '') AS host,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS scheme,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
    regexp_replace(regexp_replace(
      regexp_extract(regexp_replace(url, '#.*$', ''), '\\?(.*)$', 1),
      '(?:^|&)(?:utm_[^=&]*|fbclid|gclid)=[^&]*', '', 'g'), '^&', '') AS q
  FROM u
)
SELECT doc_id, url, host,
  regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
  path,
  CASE WHEN host = '' THEN lower(url) ELSE
    scheme || '://' || host
    || CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
            ELSE regexp_replace(path, '/+$', '') END
    || CASE WHEN q = '' THEN '' ELSE '?' || q END
  END AS norm
FROM parts
ORDER BY doc_id
"""


def _host_rollup(parts):
    """host_stats over an already-parsed _web_parts frame — the same
    aggregate llm/web.py::host_stats computes (count + distinct paths
    per host), expressed over the shared projection's columns."""
    return parts.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("path").alias("n_paths"),
    )


_HOST_STATS_SQL = f"""
WITH u AS (
  SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents
), parts AS (
  SELECT doc_id,
    regexp_replace(lower(regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]+)', 1)),
      ':[0-9]+$', '') AS host,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
  FROM u
)
SELECT host, count(*) AS n_docs,
       count(DISTINCT path) AS n_paths
FROM parts GROUP BY host ORDER BY host
"""


def _q_stream_interval_join(spark, sf_dir):
    """Stream-stream event-time range join through a real availableNow
    stream: view events joined to the one-day windows opened by error
    events of the same user (both sides watermarked, condition
    time-bounded => provably bounded join state). Batch-aggregated to
    the same shape as the batch interval_join gate; the oracle IS the
    batch oracle — the streaming path must agree exactly."""
    import uuid

    from duckdb_geography_spark.streaming import events as SE

    _prep(spark)
    views = (
        SE.read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            "user_id",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("view_cents"),
        )
    )
    errs = (
        SE.read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select("user_id", "ts", "event_id")
    )
    out = SE.stream_interval_join(views, errs, key="user_id", window_seconds=86400)
    qname = f"ivj_gate_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_interval_join did not finish in 300s")
    return (
        spark.table(qname)
        .groupBy(F.col("i_event_id").alias("err_id"))
        .agg(
            F.count("*").alias("n_views"),
            F.sum("view_cents").alias("view_cents_sum"),
        )
        .orderBy("err_id")
    )


# ---------------------------------------------------------------------------
# host-engine window/rank/quantile analytics (SURVEY §2.9 surface)
# ---------------------------------------------------------------------------


def _q_topk_per_group(spark, sf_dir):
    """Top-3 events per user by value — the rank-per-key shape every
    analytics engine needs. Ranking key is integer cents (ranking the
    raw double and rounding after could split ties differently across
    engines); ties broken by event_id for determinism. Partition-local
    rank after ONE hash shuffle; no global sort until the final
    display ordering."""
    from pyspark.sql import Window

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("cents").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .orderBy("user_id", "rank")
    )


_TOPK_PER_GROUP_SQL = """
SELECT user_id, event_id, cents, rank FROM (
  SELECT user_id, event_id, CAST(round(value*100) AS BIGINT) AS cents,
         CAST(row_number() OVER (
           PARTITION BY user_id
           ORDER BY CAST(round(value*100) AS BIGINT) DESC, event_id DESC
         ) AS INTEGER) AS rank
  FROM events
) WHERE rank <= 3
ORDER BY user_id, rank
"""


def _q_grouped_quantiles(spark, sf_dir):
    """Exact interpolated quantiles per group: Spark's `percentile`
    and DuckDB's `quantile_cont` share the linear-interpolation
    definition, so doubles match bit-for-bit (asserted). At 100 TB
    you'd switch to `percentile_approx` (mergeable t-digest-style
    sketch, map-side combinable); the exact form here is the oracle-
    comparable twin and the correctness anchor for that swap."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile("n_chars", F.lit(0.25)).alias("q25"),
            F.percentile("n_chars", F.lit(0.5)).alias("q50"),
            F.percentile("n_chars", F.lit(0.75)).alias("q75"),
        )
        .orderBy("lang")
    )


_GROUPED_QUANTILES_SQL = """
SELECT lang, count(*) AS n,
       quantile_cont(n_chars, 0.25) AS q25,
       quantile_cont(n_chars, 0.5)  AS q50,
       quantile_cont(n_chars, 0.75) AS q75
FROM documents GROUP BY lang ORDER BY lang
"""


def _q_rolling_stats(spark, sf_dir):
    """Per-user rolling 4-event window (3 preceding + current) over
    event time: ordered-frame window aggregate, integer cents so the
    sliding sum is exact. ONE hash shuffle on user_id, sort within
    partitions — the plan a time-series feature pipeline wants."""
    from pyspark.sql import Window

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            "ts",
        )
        .select(
            "event_id",
            F.sum("cents").over(w).alias("roll_cents"),
            F.count(F.lit(1)).over(w).alias("roll_n"),
        )
        .orderBy("event_id")
    )


_ROLLING_STATS_SQL = """
SELECT event_id,
       CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS roll_cents,
       count(*) OVER w AS roll_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# temporal joins (beyond-reference: as-of + binned interval range join)
# ---------------------------------------------------------------------------


def _q_asof_join(spark, sf_dir):
    """Every click joined to the user's most recent error at-or-before
    it (temporal.asof_join: union + ordered window — ONE shuffle, zero
    join nodes). Right side deduped per (user, ts) by max event_id so
    the winner is deterministic; timestamps exported as epoch micros
    (string rendering truncates trailing zeros differently across
    engines). Oracle: DuckDB's native ASOF LEFT JOIN."""
    from pyspark.sql import Window

    from duckdb_geography_spark.temporal import asof_join

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("click_cents"),
    )
    wdd = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    errors = (
        ev.where(F.col("event_type") == "error")
        .withColumn("__rn", F.row_number().over(wdd))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("err_ts"),
            F.round(F.col("value") * 100).cast("long").alias("err_cents"),
        )
    )
    out = asof_join(clicks, errors, on="user_id", left_time="ts", right_time="err_ts")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("err_ts").cast("timestamp")).alias("err_ts_us"),
        "click_cents",
        "err_cents",
    ).orderBy("event_id")


_ASOF_JOIN_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS click_cents
  FROM events WHERE event_type = 'click'
), errs AS (
  SELECT user_id, ts AS err_ts, CAST(round(value*100) AS BIGINT) AS err_cents
  FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'error'
  ) WHERE rn = 1
)
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
       epoch_us(e.err_ts) AS err_ts_us, c.click_cents, e.err_cents
FROM clicks c ASOF LEFT JOIN errs e
  ON c.user_id = e.user_id AND c.ts >= e.err_ts
ORDER BY c.event_id
"""


def _q_interval_join(spark, sf_dir):
    """Views falling inside each user's one-DAY post-error window
    (INTERVAL 1 DAY, bin_seconds=86400 — keep the oracle in lockstep)
    (temporal.interval_join: interval -> spanned-bin explode, point ->
    its single bin, EQUI-join + between refine — never a cartesian).
    Aggregated per window. Oracle: DuckDB's native IEJoin on the same
    BETWEEN predicate."""
    from duckdb_geography_spark.temporal import interval_join

    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("view_cents"),
    )
    errs = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("end"),
    )
    joined = interval_join(
        views, errs, point_time="ts", on="user_id", bin_seconds=86400
    )
    return (
        joined.groupBy("err_id")
        .agg(
            F.count("*").alias("n_views"),
            F.sum("view_cents").alias("view_cents_sum"),
        )
        .orderBy("err_id")
    )


_INTERVAL_JOIN_SQL = """
WITH v AS (
  SELECT user_id, ts, CAST(round(value*100) AS BIGINT) AS c
  FROM events WHERE event_type = 'view'
), e AS (
  SELECT user_id, event_id AS err_id, ts AS s, ts + INTERVAL 1 DAY AS en
  FROM events WHERE event_type = 'error'
)
SELECT e.err_id, count(*) AS n_views, CAST(sum(v.c) AS BIGINT) AS view_cents_sum
FROM v JOIN e ON v.user_id = e.user_id AND v.ts BETWEEN e.s AND e.en
GROUP BY e.err_id
ORDER BY e.err_id
"""


# ---------------------------------------------------------------------------
# round-5 gates: implicit cell coercion + deep-plan auto-rewrite
# ---------------------------------------------------------------------------

#: cell ids built by pure integer arithmetic BOTH engines evaluate
#: identically — no geo functions needed on the oracle side. Valid
#: rows: face k%4, level k%6+3, Hilbert-position bits from a
#: Knuth-hash of the key, proper trailing 10..0 lsb. Invalid rows
#: (k%5=0): face 6 (top bits 110 -> structurally invalid), encoded as
#: the signed value -2*2^61 + lsb.
_COERCE_LSB = (
    "CASE (k % 6) + 3 WHEN 3 THEN 18014398509481984 WHEN 4 THEN 4503599627370496 "
    "WHEN 5 THEN 1125899906842624 WHEN 6 THEN 281474976710656 "
    "WHEN 7 THEN 70368744177664 ELSE 17592186044416 END"
)
_COERCE_P = "((k * 2654435761) % 549755813888) * 2097152"
_COERCE_CELL = (
    f"CASE WHEN k % 5 = 0 THEN -4611686018427387904 + ({_COERCE_LSB}) "
    f"ELSE (k % 4) * 2305843009213693952 "
    f"+ (({_COERCE_P}) - (({_COERCE_P}) % (2 * ({_COERCE_LSB})))) "
    f"+ ({_COERCE_LSB}) END"
)


def _q_cell_coercion_gate(spark, sf_dir):
    """Implicit S2_CELL->GEOGRAPHY coercion (DuckDB cost-0 cast
    parity, reference src/s2_cell_ops.cpp:1033-1051): every geography
    function takes a BARE cell id (and a bare array<long> cell union)
    on the SQL surface. Oracle facts derive from the arithmetic
    construction alone — emptiness/level/intersection follow from the
    known face/level, and the coerced-vs-explicit-cast equalities are
    invariants (TRUE per row)."""
    from duckdb_geography_spark.functions.register import register_sql_functions

    _prep(spark)
    register_sql_functions(spark)
    _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    ).createOrReplaceTempView("coerce_keys")
    return spark.sql(
        f"""
SELECT k,
  cell,
  s2_isempty(cell) AS is_empty,
  s2_intersects(cell, cell) AS self_isect,
  s2_cell_level(cell) AS lvl,
  s2_area(cell) = s2_area(s2_cell_to_geography(cell)) AS area_match,
  s2_astext(cell) = s2_astext(s2_cell_to_geography(cell)) AS wkt_match,
  s2_area(array(cell, cell)) = s2_area(s2_cell_union_to_geography(array(cell))) AS union_match,
  s2_area(cell) > 0 AS area_pos
FROM (SELECT k, {_COERCE_CELL} AS cell FROM coerce_keys)
ORDER BY k
"""
    )


def _cell_coercion_sql():
    return f"""
SELECT k,
  {_COERCE_CELL} AS cell,
  (k % 5 = 0) AS is_empty,
  (k % 5 <> 0) AS self_isect,
  CAST(CASE WHEN k % 5 = 0 THEN -1 ELSE (k % 6) + 3 END AS INT) AS lvl,
  TRUE AS area_match,
  TRUE AS wkt_match,
  TRUE AS union_match,
  (k % 5 <> 0) AS area_pos
FROM (SELECT c_custkey AS k FROM customer)
ORDER BY k
"""


def _q_rewrite_deep_gate(spark, sf_dir):
    """The round-5 auto-rewrite surface end-to-end: the reference
    README's naive-join SQL (README.md:14-19) COMPOSED under WHERE +
    GROUP BY + ORDER BY — the shape rewrite_spatial_joins previously
    refused — pasted verbatim into rewrite.sql. The rewriter replaces
    the naive s2_dwithin join with the buffered covering distance
    join via plan surgery and reattaches the aggregation; the oracle
    recomputes the snapped great-circle distances in SQL (same CTE
    math as dwithin_gate) with the same filter + rollup."""
    import warnings as _warnings

    from duckdb_geography_spark import rewrite as RW
    from duckdb_geography_spark import synth
    from duckdb_geography_spark.functions import cells as C
    from duckdb_geography_spark.functions.casts import s2_cell_center_to_geography
    from duckdb_geography_spark.functions.register import register_sql_functions

    _prep(spark)
    register_sql_functions(spark)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        s2_cell_center_to_geography(
            C.s2_cellfromlonlat(synth.cust_lon(), synth.cust_lat())
        ).alias("geog"),
    )
    nation = _t(spark, sf_dir, "nation")
    xmin, ymin, _, _ = synth.nation_box()
    centers = nation.select(
        "n_nationkey",
        (xmin + 27.5).alias("clon"),
        (ymin + 12.5).alias("clat"),
    ).select(
        "n_nationkey",
        s2_cell_center_to_geography(C.s2_cellfromlonlat("clon", "clat")).alias("geog"),
    )
    cust.createOrReplaceTempView("rw_cust")
    centers.createOrReplaceTempView("rw_centers")
    with _warnings.catch_warnings():
        _warnings.simplefilter("ignore")  # the rewrite advisory
        return RW.sql(
            spark,
            """
SELECT n.n_nationkey, count(*) AS n_within
FROM rw_cust c JOIN rw_centers n ON s2_dwithin(c.geog, n.geog, 1000000.0)
WHERE c.c_custkey % 3 != 0
GROUP BY n.n_nationkey
ORDER BY n.n_nationkey
""",
        )


def _rewrite_deep_sql():
    from duckdb_geography_spark import synth

    cpts = (
        f"SELECT c_custkey AS k, {synth.CUST_LON_SQL} AS lon, "
        f"{synth.CUST_LAT_SQL} AS lat FROM customer WHERE c_custkey % 3 != 0"
    )
    npts = (
        f"SELECT n_nationkey AS k, ({synth.NATION_XMIN_SQL}) + 27.5 AS lon, "
        f"({synth.NATION_YMIN_SQL}) + 12.5 AS lat FROM nation"
    )
    return f"""
WITH RECURSIVE {synth.cellfromlonlat_cte(cpts, "_c")},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_c", "_c").lstrip()},
{synth.cellfromlonlat_cte(npts, "_n").lstrip()},
{synth.cellcenter_xyz_cte("SELECT k, cell FROM cellids_n", "_n").lstrip()}
SELECT n.k AS n_nationkey, CAST(count(*) AS BIGINT) AS n_within
FROM centers_c c CROSS JOIN centers_n n
WHERE 2.0 * asin(least(1.0, 0.5 * sqrt((c.x-n.x)*(c.x-n.x) + (c.y-n.y)*(c.y-n.y) + (c.z-n.z)*(c.z-n.z)))) * 6371010.0 <= 1000000.0
GROUP BY n.k
ORDER BY n_nationkey
"""


# ---------------------------------------------------------------------------
# round 5: lexical retrieval, duplicate-substring spans, DSIR selection
# ---------------------------------------------------------------------------

_BM25_TERMS = ["hash", "table", "scan", "merge"]


def _q_bm25_retrieval(spark, sf_dir):
    """BM25 top-25 over `documents` for a fixed 4-term query —
    integer-micronat scores, exact cross-engine (llm/retrieval.py)."""
    from duckdb_geography_spark.llm import retrieval as R

    docs = _t(spark, sf_dir, "documents")
    return R.bm25_topk(docs, _BM25_TERMS, k=25).select(
        "doc_id", "n_matched", "bm25_micro"
    )


def _bm25_sql():
    from duckdb_geography_spark.llm.retrieval import _bm25_constants

    ck, c0, c1 = _bm25_constants(1.2, 0.75)
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH words AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS word
  FROM documents),
tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
consts AS (SELECT count(*) AS D, sum(dl) AS L FROM dl),
dfs AS (SELECT word, count(DISTINCT doc_id) AS df_ct FROM words
        WHERE word IN ({terms}) GROUP BY 1),
idf AS (SELECT word,
  CAST(round(ln(CAST(2 * (SELECT D FROM consts) + 2 AS DOUBLE)) * 1e6) AS BIGINT)
  - CAST(round(ln(CAST(2 * df_ct + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS idf_micro FROM dfs),
terms AS (
  SELECT t.doc_id,
    CAST(round(CAST(i.idf_micro AS DOUBLE) * t.tf * {ck!r}
      / (t.tf + {c0!r} + {c1!r} * d.dl * (SELECT D FROM consts) / (SELECT L FROM consts))) AS BIGINT) AS term_micro
  FROM tf t JOIN idf i USING (word) JOIN dl d USING (doc_id)
  WHERE t.word IN ({terms}))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched, CAST(sum(term_micro) AS BIGINT) AS bm25_micro
FROM terms GROUP BY doc_id ORDER BY bm25_micro DESC, doc_id LIMIT 25
"""


def _q_tfidf_vectors(spark, sf_dir):
    """Sparse TF-IDF posting rows with exact micronat idf weights
    (llm/retrieval.py::tf_idf)."""
    from duckdb_geography_spark.llm import retrieval as R

    docs = _t(spark, sf_dir, "documents")
    return (
        R.tf_idf(docs)
        .select("doc_id", "word", "tf", "w_micro")
        .orderBy("doc_id", "word")
    )


_TFIDF_SQL = """
WITH words AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS word
  FROM documents),
tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
dfs AS (SELECT word, count(DISTINCT doc_id) AS df_ct FROM words GROUP BY 1),
consts AS (SELECT count(*) AS D FROM documents)
SELECT t.doc_id, t.word, t.tf,
  t.tf * (CAST(round(ln(CAST((SELECT D FROM consts) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
        - CAST(round(ln(CAST(f.df_ct + 1 AS DOUBLE)) * 1e6) AS BIGINT)) AS w_micro
FROM tf t JOIN dfs f USING (word)
ORDER BY doc_id, word
"""


def _q_dup_spans(spark, sf_dir):
    """Per-document duplicate-substring coverage: maximal repeated
    5-word-window spans merged by gaps-and-islands
    (llm/spans.py::duplication_stats — the Lee et al. 2022 exact-
    substring dedup signal)."""
    from duckdb_geography_spark.llm import spans as S

    docs = _t(spark, sf_dir, "documents")
    return S.duplication_stats(docs, 5).orderBy("doc_id")


_DUP_SPANS_SQL = """
WITH words AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS ws
  FROM documents),
pos AS (
  SELECT doc_id, i AS pos, md5(array_to_string(ws[i+1:i+5], ' ')) AS h
  FROM words, unnest(range(0, len(ws) - 5 + 1)) AS t(i)
  WHERE len(ws) >= 5),
dup AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= 2),
dpos AS (SELECT doc_id, pos FROM pos WHERE h IN (SELECT h FROM dup)),
flags AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5 THEN 1 ELSE 0 END AS f
  FROM dpos),
isl AS (
  SELECT doc_id, pos, sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM flags),
sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e FROM isl GROUP BY doc_id, island),
agg AS (SELECT doc_id, count(*) AS n_spans, sum(e - s) AS dup_words FROM sp GROUP BY doc_id)
SELECT w.doc_id, CAST(len(ws) AS INTEGER) AS n_words,
  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
  CAST(coalesce(dup_words, 0) AS BIGINT) AS dup_words,
  round(CASE WHEN len(ws) > 0 THEN CAST(coalesce(dup_words, 0) AS DOUBLE) / len(ws) ELSE 0.0 END, 6) AS dup_frac
FROM words w LEFT JOIN agg USING (doc_id) ORDER BY doc_id
"""


def _q_dsir_weights(spark, sf_dir):
    """DSIR importance weights of every document toward the
    lang='en' slice as target (llm/dsir.py) — integer-micronat
    hashed-bigram log-ratios, md5-bucketed for oracle replay."""
    from duckdb_geography_spark.llm import dsir as D
    from duckdb_geography_spark.llm.dsir import _feature_buckets

    docs = _t(spark, sf_dir, "documents")
    # hash the n-grams into ONE shared exploded expression (r11,
    # guide §2.4): target model, raw model and per-doc features all
    # derive from it instead of three independently built
    # tokenize+hash trees. The groupBys below are exactly
    # hashed_feature_counts' aggregation, so the models are
    # bit-identical (pinned by the oracle hash).
    grams = docs.select(
        "doc_id",
        "lang",
        F.explode(
            _feature_buckets(F.col("text"), (1, 2), 1000, "md5")
        ).alias("bucket"),
    )
    tc = (
        grams.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rc = grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    return D.dsir_weights(
        docs, tc, raw_counts=rc, buckets=1000, features=grams
    ).orderBy("doc_id")


_DSIR_SQL = """
WITH base AS (SELECT doc_id, lang, trim(text) AS t FROM documents),
words AS (SELECT doc_id, lang, list_filter(regexp_split_to_array(t, '\\s+'), w -> w <> '') AS ws FROM base),
grams AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5(g), 1, 8))::BIGINT & 2147483647 AS BIGINT) % 1000 AS bucket
  FROM (
    SELECT doc_id, lang, array_to_string(ws[i+1:i+1], ' ') AS g
    FROM words, unnest(range(0, len(ws))) AS t(i) WHERE len(ws) >= 1
    UNION ALL
    SELECT doc_id, lang, array_to_string(ws[i+1:i+2], ' ') AS g
    FROM words, unnest(range(0, len(ws) - 1)) AS t(i) WHERE len(ws) >= 2)),
tmodel AS (SELECT bucket, count(*) AS c FROM grams WHERE lang = 'en' GROUP BY bucket),
rmodel AS (SELECT bucket, count(*) AS c FROM grams GROUP BY bucket),
consts AS (SELECT
  CAST(round(ln(CAST((SELECT coalesce(sum(c), 0) FROM rmodel) + 1000 AS DOUBLE)) * 1e6) AS BIGINT)
  - CAST(round(ln(CAST((SELECT coalesce(sum(c), 0) FROM tmodel) + 1000 AS DOUBLE)) * 1e6) AS BIGINT) AS cm),
docf AS (SELECT doc_id, bucket, count(*) AS cd FROM grams GROUP BY 1, 2),
scored AS (
  SELECT d.doc_id, sum(d.cd) AS n_feats,
    sum(d.cd * (coalesce(CAST(round(ln(CAST(t.c + 1 AS DOUBLE)) * 1e6) AS BIGINT), 0)
              - coalesce(CAST(round(ln(CAST(r.c + 1 AS DOUBLE)) * 1e6) AS BIGINT), 0))) AS s
  FROM docf d LEFT JOIN tmodel t USING (bucket) LEFT JOIN rmodel r USING (bucket)
  GROUP BY d.doc_id)
SELECT b.doc_id, CAST(coalesce(n_feats, 0) AS BIGINT) AS n_feats,
  CAST(coalesce(s + n_feats * (SELECT cm FROM consts), 0) AS BIGINT) AS w_micro
FROM base b LEFT JOIN scored USING (doc_id) ORDER BY doc_id
"""


def _q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct counting (llm/sketch.py) in BOTH regimes
    — ~150 distinct users/event_type exercises the linear-counting
    branch, 2000 distinct event_ids/event_type the raw-harmonic branch
    — with the exact COUNT(DISTINCT) alongside. Every output column is
    integer-derived (exact BIGINT harmonic denominator, micronat-log
    linear counting, one precomputed-constant division), so the
    estimates hash-match DuckDB bit-for-bit."""
    from duckdb_geography_spark.llm.sketch import hll_distinct

    ev = _t(spark, sf_dir, "events")
    parts = []
    for scope, key in (("event_ids", "event_id"), ("users", "user_id")):
        est = hll_distinct(
            ev, key, group_cols=["event_type"], p=8, hash_fn="md5"
        )
        exact = ev.groupBy("event_type").agg(
            F.countDistinct(key).alias("exact_distinct")
        )
        parts.append(
            est.join(exact, "event_type").select(
                F.lit(scope).alias("scope"),
                "event_type",
                "v_registers",
                "z_num",
                "est_raw",
                "distinct_est",
                "exact_distinct",
            )
        )
    return parts[0].unionByName(parts[1]).orderBy("scope", "event_type")


def _hll_sql():
    import math as _math

    p, m = 8, 256
    nbits, scale = 60 - p, 61 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * m * m * float(1 << scale)
    ln_m = int(round(_math.log(m) * 1_000_000))
    mask = (1 << nbits) - 1
    big = 1 << scale

    def one(scope, key):
        z = f"(z_present + ({m} - v_registers) * ({big}::BIGINT))"
        raw = f"round({numer!r} / CAST({z} AS DOUBLE), 6)"
        lc = (
            f"round(CAST({m}::BIGINT * ({ln_m}::BIGINT - CAST(round(ln(CAST("
            f"{m} - v_registers AS DOUBLE)) * 1000000) AS BIGINT)) AS DOUBLE)"
            f" / 1000000.0, 6)"
        )
        return f"""
SELECT '{scope}' AS scope, e.event_type, v_registers, {z}::BIGINT AS z_num,
  {raw} AS est_raw,
  CASE WHEN {raw} <= {2.5 * m} AND v_registers < {m} THEN {lc}
       ELSE {raw} END AS distinct_est,
  x.exact_distinct
FROM (
  SELECT event_type, count(*) AS v_registers,
         sum((1::BIGINT << ({scale} - m_rho))::BIGINT)::BIGINT AS z_present
  FROM (
    SELECT event_type, h >> {nbits} AS reg,
      max(CASE WHEN (h & {mask}) = 0 THEN {nbits + 1}
               ELSE {nbits + 1} - length(bin((h & {mask})::BIGINT)) END) AS m_rho
    FROM (SELECT event_type,
            ('0x'||substr(md5(CAST({key} AS VARCHAR)),1,15))::BIGINT AS h
          FROM events WHERE {key} IS NOT NULL) hh
    GROUP BY event_type, reg) regs
  GROUP BY event_type) e
JOIN (SELECT event_type, count(DISTINCT {key})::BIGINT AS exact_distinct
      FROM events GROUP BY event_type) x ON e.event_type = x.event_type"""

    return (
        one("event_ids", "event_id")
        + "\nUNION ALL\n"
        + one("users", "user_id")
        + "\nORDER BY scope, event_type"
    )


_HLL_SQL = _hll_sql()


def _q_cms_counts(spark, sf_dir):
    """Count-min frequency estimation (llm/sketch.py): sketch the
    corpus word stream into 4x1024 cells, then point-estimate the 15
    most frequent words (plus a guaranteed-absent probe) against their
    exact counts — est >= exact always, both integer columns."""
    from duckdb_geography_spark.llm.sketch import cms_lookup, cms_sketch

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
        ).alias("w")
    )
    # aggregate before you shuffle (r11, guide §2.3): the sketch is
    # now built FROM the counts (weight_col) — identical integer cell
    # sums, but the sketch aggregation shuffles vocab-many rows
    # instead of re-exploding the corpus word stream a second time
    exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("exact"))
    # bounded driver-side probe list (15 words) — same pattern as the
    # ANN gates' query vector; avoids joining `est` back into its own
    # lineage (plan-branch reuse can mis-resolve the join condition)
    top = [
        (r.w, int(r.exact))
        for r in exact.orderBy(F.desc("exact"), "w").limit(15).collect()
    ] + [("zzz_absent_probe", 0)]
    probes = spark.createDataFrame(top, ["w", "exact"])
    sk = cms_sketch(
        exact, "w", weight_col="exact", depth=4, width=1024, hash_fn="md5"
    )
    est = cms_lookup(
        sk, probes.select("w"), "w", depth=4, width=1024, hash_fn="md5"
    )
    return (
        est.join(probes, est["key"] == probes["w"])
        .select(
            F.col("key").alias("word"),
            F.col("exact").cast("long").alias("exact"),
            F.col("est"),
        )
        .orderBy("word")
    )


_CMS_SQL = r"""
WITH t AS (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS w
  FROM documents),
exact AS (SELECT w, count(*)::BIGINT AS exact FROM t GROUP BY w),
probes AS (
  (SELECT w FROM exact ORDER BY exact DESC, w LIMIT 15)
  UNION ALL SELECT 'zzz_absent_probe'),
cells AS (
  SELECT j, ('0x'||substr(md5(CAST(j AS VARCHAR) || ':' || w),1,15))::BIGINT % 1024 AS cell,
         count(*)::BIGINT AS c
  FROM t CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js
  GROUP BY 1, 2),
probe AS (
  SELECT p.w, js.j,
         ('0x'||substr(md5(CAST(js.j AS VARCHAR) || ':' || p.w),1,15))::BIGINT % 1024 AS cell
  FROM probes p CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js),
est AS (
  SELECT p.w, min(coalesce(c.c, 0))::BIGINT AS est
  FROM probe p LEFT JOIN cells c ON p.j = c.j AND p.cell = c.cell
  GROUP BY p.w)
SELECT e.w AS word, coalesce(x.exact, 0)::BIGINT AS exact, e.est
FROM est e LEFT JOIN exact x ON e.w = x.w
ORDER BY word
"""


def _q_int8_topk(spark, sf_dir):
    """Scalar int8 quantization ANN (llm/similarity.py::int8_cosine_topk):
    per-vector symmetric codes with one fixed rounding convention, so
    the quantized-cosine score is integer math up to a single sqrt and
    division — replayed exactly by the SQL twin. The 4-8x scan-width
    reduction is the point at 100 TB."""
    from duckdb_geography_spark.llm.similarity import int8_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(sf_dir)
    return int8_cosine_topk(
        emb.where(F.col("vec_id") != 0), [float(x) for x in q], k=10
    )


def _q_jl_project(spark, sf_dir):
    """Johnson-Lindenstrauss projection (llm/similarity.py::jl_project):
    deterministic Achlioptas ±1 sign matrix (sign = md5 nibble of
    "seed:r:c"), folded into ONE pure-Column map-side expression — no
    UDF, no shuffle, fuses into the scan. The oracle recomputes the
    same md5 signs in DuckDB and folds the dot product over the same
    left-to-right generate_series order; both sides round to 6
    decimals so the single float multiply-order difference cannot
    surface. Rows are (vec_id, component index, value) — exploded so
    the driver compares scalars, not arrays."""
    from duckdb_geography_spark.llm.similarity import jl_project

    emb = _t(spark, sf_dir, "embeddings")
    p = jl_project(
        emb, vec_col="embedding", in_dim=64, out_dim=8, seed=7, out_col="proj"
    )
    # posexplode_OUTER: a plain posexplode makes Catalyst infer a
    # size(proj) > 0 pushdown filter, which re-evaluates the whole
    # folded projection expression inside the scan (2x per row). The
    # outer form infers no filter, and proj is never empty (its length
    # is the literal sign-matrix row count), so the rows are identical.
    return (
        p.select("vec_id", F.posexplode_outer("proj").alias("r", "v"))
        .select(
            "vec_id",
            F.col("r").cast("long").alias("r"),
            F.round("v", 6).alias("val"),
        )
        .orderBy("vec_id", "r")
    )


_JL_PROJECT_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
dims AS (SELECT unnest(generate_series(0, 7)) AS r)
SELECT v.vec_id, dims.r,
  round(list_sum(list_transform(generate_series(0, 63), c ->
          (CASE WHEN ('0x' || substr(md5('7:' || dims.r || ':' || c), 1, 1))::BIGINT < 8
                THEN 1.0 ELSE -1.0 END) * v.dv[c + 1]))
        * 0.35355339059327373, 6) AS val
FROM v CROSS JOIN dims
ORDER BY vec_id, r
"""


def _q_jl_topk(spark, sf_dir):
    """JL-shortlist ANN (llm/similarity.py::jl_topk): projected-dot
    top-(shortlist*k) via the md5 sign matrix, exact-cosine rerank of
    just the shortlist. Both stages TakeOrderedAndProject; the oracle
    replays projection, shortlist, and rerank in SQL with the same
    deterministic signs and 6-dp rounding."""
    from duckdb_geography_spark.llm.similarity import jl_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(sf_dir)
    return jl_topk(
        emb.where(F.col("vec_id") != 0),
        [float(x) for x in q],
        k=10,
        out_dim=16,
        seed=7,
        shortlist=4,
    )


def _jl_topk_sql():
    import numpy as _np

    import pandas as _pd

    from duckdb_geography_spark.llm.similarity import jl_signs

    pdf = _pd.read_parquet(
        f"{_oracle_sf_dir()}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    q = _np.asarray(
        [float(x) for x in pdf[pdf["vec_id"] == 0]["embedding"].iloc[0]],
        dtype=_np.float64,
    )
    S = jl_signs(64, 16, 7)
    qp = S @ q
    # projected dot per row: sum over out-dims of proj[r] * qp[r],
    # where proj[r] folds the sign row left-to-right like _dots_expr
    sign_rows = []
    for r in range(16):
        arr = ", ".join(repr(float(x)) for x in S[r])
        sign_rows.append(
            f"list_sum(list_transform(generate_series(1, 64), i -> dv[i] * (ARRAY[{arr}])[i])) * {float(qp[r])!r}"
        )
    pdot = " + ".join(f"({t})" for t in sign_rows)
    qlit = ", ".join(repr(float(x)) for x in q)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings WHERE vec_id <> 0),
ps AS (SELECT vec_id, dv, round({pdot}, 6) AS pscore FROM v),
short AS (SELECT vec_id, dv FROM ps ORDER BY pscore DESC, vec_id LIMIT 40),
scored AS (
  SELECT vec_id,
    round(list_sum(list_transform(generate_series(1, 64), i -> dv[i] * (ARRAY[{qlit}])[i]))
      / (sqrt(list_sum(list_transform(dv, x -> x * x))) * sqrt({float(_np.dot(q, q))!r})), 6) AS score
  FROM short)
SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 10
"""


def _q_stream_hll(spark, sf_dir):
    """STREAMING HyperLogLog: windowed register table (bounded
    windows x 256 rows of state vs unbounded exact-distinct key
    state), availableNow into a memory sink, then the SAME batch
    estimate math (llm/sketch.py::hll_estimate) over the sink — the
    whole chain replayed by the hourly SQL twin. Register max is
    commutative, so the result is micro-batch-order independent."""
    import uuid

    from duckdb_geography_spark.llm.sketch import hll_estimate
    from duckdb_geography_spark.streaming import events as SE

    _prep(spark)
    ev = SE.read_events_stream(spark, sf_dir)
    regs = SE.windowed_hll_registers(
        ev, key_col="user_id", p=8, hash_fn="md5"
    )
    qname = f"hll_gate_{uuid.uuid4().hex[:8]}"
    q = (
        regs.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_hll did not finish in 300s")
    est = hll_estimate(spark.table(qname), group_cols=["window_start"], p=8)
    return est.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "v_registers",
        "z_num",
        "est_raw",
        "distinct_est",
    ).orderBy("hour")


def _stream_hll_sql():
    import math as _math

    p, m = 8, 256
    nbits, scale = 60 - p, 61 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numer = alpha * m * m * float(1 << scale)
    ln_m = int(round(_math.log(m) * 1_000_000))
    mask = (1 << nbits) - 1
    big = 1 << scale
    z = f"(z_present + ({m} - v_registers) * ({big}::BIGINT))"
    raw = f"round({numer!r} / CAST({z} AS DOUBLE), 6)"
    lc = (
        f"round(CAST({m}::BIGINT * ({ln_m}::BIGINT - CAST(round(ln(CAST("
        f"{m} - v_registers AS DOUBLE)) * 1000000) AS BIGINT)) AS DOUBLE)"
        f" / 1000000.0, 6)"
    )
    return f"""
SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, v_registers,
  {z}::BIGINT AS z_num, {raw} AS est_raw,
  CASE WHEN {raw} <= {2.5 * m} AND v_registers < {m} THEN {lc}
       ELSE {raw} END AS distinct_est
FROM (
  SELECT hour, count(*) AS v_registers,
         sum((1::BIGINT << ({scale} - m_rho))::BIGINT)::BIGINT AS z_present
  FROM (
    SELECT date_trunc('hour', ts) AS hour, h >> {nbits} AS reg,
      max(CASE WHEN (h & {mask}) = 0 THEN {nbits + 1}
               ELSE {nbits + 1} - length(bin((h & {mask})::BIGINT)) END) AS m_rho
    FROM (SELECT ts,
            ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
          FROM events WHERE user_id IS NOT NULL) hh
    GROUP BY 1, 2) regs
  GROUP BY hour) agg
ORDER BY hour
"""


_STREAM_HLL_SQL = _stream_hll_sql()


def _q_bloom_prefilter(spark, sf_dir):
    """Bloom-filter join prefilter (llm/sketch.py): the vocabulary of
    lang='en' documents becomes a 4096-bit bloom (a bounded bit_or
    aggregate, broadcastable at any dim cardinality); every corpus
    word probes it. Output = per-word (maybe, exact) membership — no
    false negatives ever, false positives bounded and deterministic,
    both replayed bit-for-bit by the SQL twin."""
    from duckdb_geography_spark.llm.sketch import bloom_contains, bloom_sketch

    docs = _t(spark, sf_dir, "documents")
    # tokenize ONCE (r11, guide §2.3/§2.4): the gate previously ran
    # three independent tokenize passes (en-vocab for the sketch,
    # en-vocab again for the exact column, full vocab for the probes).
    # One pass aggregates to a vocab-sized (word, seen-in-en) table —
    # map-side combinable — and both distinct sets project from it.
    dl = (
        docs.select(
            (F.col("lang") == "en").cast("int").alias("__en"),
            F.explode(
                F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
            ).alias("w"),
        )
        .groupBy("w")
        .agg(F.max("__en").alias("__en"))
    )
    dim = dl.where(F.col("__en") == 1).select("w")
    vocab = dl.select("w")
    sk = bloom_sketch(dim, "w", n_bits=4096, k=5, hash_fn="md5")
    maybe = bloom_contains(sk, vocab, "w", n_bits=4096, k=5, hash_fn="md5")
    exact = dim.select(F.col("w").alias("key"), F.lit(True).alias("exact"))
    return (
        maybe.join(exact, on="key", how="left")
        .select(
            F.col("key").alias("word"),
            "maybe",
            F.coalesce("exact", F.lit(False)).alias("exact"),
        )
        .orderBy("word")
    )


_BLOOM_SQL = r"""
WITH dim AS (
  SELECT DISTINCT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS w
  FROM documents WHERE lang = 'en'),
vocab AS (
  SELECT DISTINCT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS w
  FROM documents),
bits AS (
  SELECT b >> 5 AS word_idx, bit_or((1::BIGINT << (b & 31))::BIGINT) AS bits
  FROM (SELECT (('0x'||substr(md5(CAST(j AS VARCHAR) || ':' || w),1,15))::BIGINT % 4096) AS b
        FROM dim CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS j) js) q
  GROUP BY 1),
probe AS (
  SELECT v.w, (('0x'||substr(md5(CAST(js.j AS VARCHAR) || ':' || v.w),1,15))::BIGINT % 4096) AS b
  FROM vocab v CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS j) js),
hits AS (
  SELECT p.w, min(CASE WHEN ((coalesce(t.bits, 0) >> (p.b & 31)) & 1) = 1 THEN 1 ELSE 0 END) AS maybe
  FROM probe p LEFT JOIN bits t ON (p.b >> 5) = t.word_idx
  GROUP BY p.w)
SELECT h.w AS word, h.maybe = 1 AS maybe, (d.w IS NOT NULL) AS exact
FROM hits h LEFT JOIN dim d ON h.w = d.w
ORDER BY word
"""


_INT8_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
qc AS (
  SELECT list_transform(qv, x -> CAST(floor(
           x / (list_max(list_transform(qv, y -> abs(y))) / 127.0) + 0.5) AS BIGINT)) AS qcodes
  FROM q),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings WHERE vec_id <> 0),
vc AS (
  SELECT vec_id,
    CASE WHEN list_max(list_transform(dv, x -> abs(x))) = 0
         THEN list_transform(dv, x -> 0::BIGINT)
         ELSE list_transform(dv, x -> CAST(floor(
                x / (list_max(list_transform(dv, y -> abs(y))) / 127.0) + 0.5) AS BIGINT))
    END AS codes
  FROM v),
s AS (
  SELECT vec_id,
    list_sum(list_transform(range(1, len(codes) + 1), i -> codes[i] * qc.qcodes[i])) AS dot_i,
    list_sum(list_transform(codes, c -> c * c)) AS vv,
    list_sum(list_transform(qc.qcodes, c -> c * c)) AS qq
  FROM vc, qc)
SELECT vec_id,
  CASE WHEN vv = 0 THEN 0.0
       ELSE round(CAST(dot_i AS DOUBLE) / sqrt(CAST(vv AS DOUBLE) * CAST(qq AS DOUBLE)), 6)
  END AS score_q8
FROM s ORDER BY score_q8 DESC, vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# consolidated gates (round 8, VERDICT r7 item 7)
#
# With 105 gates against the driver's 50-slot correctness window, a
# 2-round record rotation was structurally impossible. These merge the
# near-duplicate gates into single union-shaped gates — every merged
# operator keeps its FULL-VALUE oracle coverage (the union carries each
# part's complete output, tagged by a part/n column), the registry
# drops to 100 = exactly two windows.
# ---------------------------------------------------------------------------


def _q_ngram_nll(spark, sf_dir):
    """Uni/bi/trigram LM scoring in one gate: the three per-document
    NLL tables unioned with an ``n`` tag. All three operators'
    complete outputs are hashed — n_words/n_trans normalize to
    ``n_terms`` (long) so the union schema is uniform. Replaces the
    unigram_nll / bigram_nll / trigram_nll gates (each r6-recorded)."""
    from duckdb_geography_spark.llm.lm import bigram_nll, ngram_nll, unigram_nll

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    # r11 note (measure first, guide §1): a shared localCheckpointed
    # token frame was tried here (tokenize once, feed all three
    # models) and MEASURED SLOWER at sf1 (2.9-3.1 s vs 1.9-2.3 s):
    # the static plan's 32 scans / 84 Exchanges mostly deduplicate at
    # runtime via ReuseExchange, and the codegen'd re-tokenize is
    # cheaper than materializing corpus-sized token arrays. The
    # tokens_col fast path stays in lm.py for callers with an already
    # materialized token table.
    # s_micro (the exact integer micronat sum) replaces the rounded
    # nats/term float in the gate: the float divides two exact
    # integers in doubles and a row CAN land on a 6dp rounding
    # boundary where independent engines disagree by one ulp (seen
    # once at sf1); the integer column is exact at any corpus size.
    u = unigram_nll(docs, exact_micro=True).select(
        F.lit(1).alias("n"),
        "doc_id",
        F.col("n_words").cast("long").alias("n_terms"),
        "s_micro",
    )
    b = bigram_nll(docs, exact_micro=True).select(
        F.lit(2).alias("n"),
        "doc_id",
        F.col("n_trans").cast("long").alias("n_terms"),
        "s_micro",
    )
    t = ngram_nll(docs, 3, exact_micro=True).select(
        F.lit(3).alias("n"),
        "doc_id",
        F.col("n_trans").cast("long").alias("n_terms"),
        "s_micro",
    )
    return u.unionByName(b).unionByName(t).orderBy("n", "doc_id")


def _ngram_nll_sql():
    parts = []
    for n, sql, cnt in (
        (1, _UNIGRAM_NLL_SQL, "n_words"),
        (2, _BIGRAM_NLL_SQL, "n_trans"),
        (3, _TRIGRAM_NLL_SQL, "n_trans"),
    ):
        parts.append(
            f"SELECT {n} AS n, doc_id, CAST({cnt} AS BIGINT) AS n_terms,"
            f" CAST(s_micro AS BIGINT) AS s_micro FROM ({sql})"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY n, doc_id"


def _q_simhash_suite(spark, sf_dir):
    """SimHash signatures + pigeonhole near-dup pairs in one gate:
    (part='sig', doc_id, -1, signature) union (part='pair', key_a,
    key_b, hamming). Both merged operators keep full-value coverage.
    Replaces the simhash_signatures / simhash_pairs gates. The
    signature table is computed ONCE (the batch explode+vote-sum form,
    lineage-cut, 16 bytes/row) and feeds both union branches."""
    from duckdb_geography_spark.llm.dedup import (
        simhash_batch,
        simhash_pairs_from_sigs,
    )

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    sigs = simhash_batch(
        docs, n_bits=60, hash_fn="md5", out_col="sig"
    ).localCheckpoint(eager=False)
    sig = sigs.select(
        F.lit("sig").alias("part"),
        F.col("doc_id").cast("long").alias("k1"),
        F.lit(-1).cast("long").alias("k2"),
        F.col("sig").cast("long").alias("v"),
    )
    pairs = simhash_pairs_from_sigs(
        sigs, sig_col="sig", key_col="doc_id", max_hamming=3, blocks=4, n_bits=60
    ).select(
        F.lit("pair").alias("part"),
        F.col("key_a").cast("long").alias("k1"),
        F.col("key_b").cast("long").alias("k2"),
        F.col("hamming").cast("long").alias("v"),
    )
    return sig.unionByName(pairs).orderBy("part", "k1", "k2")


def _simhash_suite_sql():
    return f"""
SELECT 'sig' AS part, CAST(doc_id AS BIGINT) AS k1, CAST(-1 AS BIGINT) AS k2,
       CAST(sig AS BIGINT) AS v
FROM ({_SIMHASH_SQL})
UNION ALL
SELECT 'pair' AS part, CAST(key_a AS BIGINT) AS k1, CAST(key_b AS BIGINT) AS k2,
       CAST(hamming AS BIGINT) AS v
FROM ({_simhash_pairs_sql()})
ORDER BY part, k1, k2
"""


def _q_token_budget_gate(spark, sf_dir):
    """Per-stratum AND sort-free-global token-budget sampling in one
    gate, tagged by part. The global part has no stratum / running
    total in its contract — those columns are pinned ('' / -1) so the
    union schema is uniform. Replaces token_budget_sample /
    token_budget_global (both r7-recorded).

    r11: both parts derive from ONE shared (doc_id, source, wc) base
    expression so identical subtrees reuse at runtime (a
    localCheckpoint of the base was tried and measured neutral at sf1
    — dropped)."""
    docs = _t(spark, sf_dir, "documents")
    wc = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), "\\s+"), lambda x: x != F.lit("")
        )
    )
    base = docs.select("doc_id", "source", wc.alias("wc")).where(
        F.col("wc") > 0
    )
    s = _q_token_budget(spark, sf_dir, base=base).select(
        F.lit("stratum").alias("part"),
        "doc_id",
        "source",
        "wc",
        F.col("tokens_before").cast("long").alias("tokens_before"),
        "__priority",
    )
    g = _q_token_budget_global(spark, sf_dir, base=base).select(
        F.lit("global").alias("part"),
        "doc_id",
        F.lit("").alias("source"),
        "wc",
        F.lit(-1).cast("long").alias("tokens_before"),
        "__priority",
    )
    return s.unionByName(g).orderBy("part", "doc_id")


def _token_budget_gate_sql():
    return f"""
SELECT 'stratum' AS part, doc_id, source, wc,
       CAST(tokens_before AS BIGINT) AS tokens_before, __priority
FROM ({_TOKEN_BUDGET_SQL})
UNION ALL
SELECT 'global' AS part, doc_id, '' AS source, wc,
       CAST(-1 AS BIGINT) AS tokens_before, __priority
FROM ({_TOKEN_BUDGET_GLOBAL_SQL})
ORDER BY part, doc_id
"""


# ---------------------------------------------------------------------------
# round 8: hybrid retrieval fusion + corpus snapshot CDC
# ---------------------------------------------------------------------------


def _q_rrf_hybrid(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-25 fused with dense cosine
    top-25 by reciprocal-rank fusion (llm/retrieval.py::rrf_fuse /
    hybrid_rrf_topk, round 8) — integer micro-contributions
    round(1e9/(c+rank)) summed as longs, so the fused scores are
    exact cross-engine. vec_id keys the same corpus as doc_id
    (TESTDATA contract); the query is the 4-term lexical query plus
    vec_id 0's embedding, corpus side excludes vec_id 0 on both legs
    so the query never retrieves itself."""
    from duckdb_geography_spark.llm.retrieval import hybrid_rrf_topk

    _prep(spark)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") != 0)
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(sf_dir)
    return hybrid_rrf_topk(
        docs,
        emb.where(F.col("vec_id") != 0),
        _BM25_TERMS,
        [float(x) for x in q],
        k=15,
        n_each=25,
    ).select("doc_id", "n_lists", "best_rank", "rrf_micro")


def _rrf_hybrid_sql():
    bm25 = _bm25_sql().replace(
        "FROM documents", "FROM documents WHERE doc_id <> 0", 1
    )
    return f"""
WITH bm_top AS ({bm25}),
bm AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS rank
  FROM bm_top),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
dn_top AS (
  SELECT vec_id,
         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6) AS score
  FROM embeddings, q WHERE vec_id <> 0
  ORDER BY score DESC, vec_id LIMIT 25),
dn AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY score DESC, vec_id) AS rank
  FROM dn_top),
u AS (SELECT * FROM bm UNION ALL SELECT * FROM dn)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_lists,
  CAST(min(rank) AS BIGINT) AS best_rank,
  CAST(sum(CAST(round(1e9 / (60 + rank)) AS BIGINT)) AS BIGINT) AS rrf_micro
FROM u GROUP BY doc_id
ORDER BY rrf_micro DESC, doc_id LIMIT 15
"""


def _q_snapshot_diff(spark, sf_dir):
    """Corpus snapshot CDC (llm/cdc.py::snapshot_diff, round 8): old =
    docs with doc_id % 7 != 0, new = docs with doc_id % 5 != 0 and
    every 11th document's text uppercased — so the diff contains all
    four added/removed/changed transitions plus dropped unchanged
    rows. Fingerprints are NULL-safe md5 digests over (text, lang,
    source, n_chars), identical on both engines."""
    from duckdb_geography_spark.llm.cdc import (
        content_fingerprint,
        snapshot_apply,
        snapshot_diff,
    )

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    # r11: ONE payload diff serves both union branches — the diff part
    # projects from the SAME payload diff apply consumes (the payload
    # attach is a 1:<=1 left join on the unique snapshot key, so the
    # projected rows are exactly snapshot_diff(old, new)'s), and the
    # shared expression tree lets runtime ReuseExchange dedup the
    # full-outer fingerprint join's input shuffles. localCheckpoints
    # of old/new/diff_pay were tried and measured neutral-to-slower at
    # sf1 (materialization vs reused exchanges) — left out.
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 0, F.upper("text")).otherwise(
            F.col("text")
        ),
    )
    cols = ["text", "lang", "source", "n_chars"]
    # closure property, oracle-checked: apply(old, diff(old, new))
    # must rebuild new EXACTLY — the oracle's apply part is the new
    # snapshot's own fingerprints, so any reconstruction error
    # hash-mismatches
    diff_pay = snapshot_diff(old, new, "doc_id", cols, include_payload=True)
    d = diff_pay.select(
        F.lit("diff").alias("part"), "doc_id", "change_type", "old_fp", "new_fp"
    )
    rebuilt = snapshot_apply(old, diff_pay, "doc_id", cols)
    a = rebuilt.select(
        F.lit("apply").alias("part"),
        "doc_id",
        F.lit("applied").alias("change_type"),
        F.lit("").alias("old_fp"),
        content_fingerprint(cols).alias("new_fp"),
    )
    return d.unionByName(a).orderBy("part", "doc_id")


_SNAPSHOT_DIFF_SQL = """
WITH fp_src AS (
  SELECT doc_id,
    md5(concat_ws(chr(31),
      coalesce(CAST(text AS VARCHAR), chr(0) || 'N'),
      coalesce(CAST(lang AS VARCHAR), chr(0) || 'N'),
      coalesce(CAST(source AS VARCHAR), chr(0) || 'N'),
      coalesce(CAST(n_chars AS VARCHAR), chr(0) || 'N'))) AS fp,
    md5(concat_ws(chr(31),
      coalesce(CAST(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS VARCHAR), chr(0) || 'N'),
      coalesce(CAST(lang AS VARCHAR), chr(0) || 'N'),
      coalesce(CAST(source AS VARCHAR), chr(0) || 'N'),
      coalesce(CAST(n_chars AS VARCHAR), chr(0) || 'N'))) AS fp_new
  FROM documents),
o AS (SELECT doc_id, fp AS old_fp FROM fp_src WHERE doc_id % 7 <> 0),
n AS (SELECT doc_id, fp_new AS new_fp FROM fp_src WHERE doc_id % 5 <> 0),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.old_fp, n.new_fp
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
SELECT 'diff' AS part, doc_id,
  CASE WHEN old_fp IS NULL THEN 'added'
       WHEN new_fp IS NULL THEN 'removed'
       WHEN old_fp <> new_fp THEN 'changed'
       ELSE 'unchanged' END AS change_type,
  old_fp, new_fp
FROM j
WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp <> new_fp
UNION ALL
SELECT 'apply' AS part, doc_id, 'applied' AS change_type, '' AS old_fp,
       fp_new AS new_fp
FROM fp_src WHERE doc_id % 5 <> 0
ORDER BY part, doc_id
"""


def _q_web_suite(spark, sf_dir):
    """Consolidated web-analytics gate (r8 registry diet, VERDICT r7
    item 7 follow-through): url_ops (parse/canonicalize) and
    host_stats (per-host rollup) as one 2-part union — both operators
    keep full-value oracle coverage under one driver slot.

    r12: both parts project from ONE parsed frame behind a
    repartition("host") exchange that ReuseExchange dedups, so the
    ~15-regex parse forest runs once instead of once per branch
    (executed plan: 1 ReusedExchange, 1 documents scan; interleaved
    sf1 A/B 2.41s -> 1.24s noop). The full-row host shuffle this adds
    replaces the host-keyed aggregate exchange the rollup paid anyway;
    a pathologically hot host concentrates its rows on one task, but
    the per-row work there is only union/sort forwarding plus an
    O(distinct-path) aggregate probe."""
    _prep(spark)
    parts = _web_parts(spark, sf_dir).repartition("host")
    u = parts.select(
        F.lit("url").alias("part"),
        "doc_id",
        "url",
        "host",
        "domain",
        "path",
        "norm",
        F.lit(-1).cast("long").alias("n_docs"),
        F.lit(-1).cast("long").alias("n_paths"),
    )
    h = _host_rollup(parts).select(
        F.lit("host").alias("part"),
        F.lit(-1).cast("long").alias("doc_id"),
        F.lit("").alias("url"),
        "host",
        F.lit("").alias("domain"),
        F.lit("").alias("path"),
        F.lit("").alias("norm"),
        F.col("n_docs").cast("long"),
        F.col("n_paths").cast("long"),
    )
    return u.unionByName(h).orderBy("part", "doc_id", "host")


def _web_suite_sql():
    return f"""
SELECT 'url' AS part, doc_id, url, host, domain, path, norm,
       CAST(-1 AS BIGINT) AS n_docs, CAST(-1 AS BIGINT) AS n_paths
FROM ({_URL_OPS_SQL})
UNION ALL
SELECT 'host' AS part, CAST(-1 AS BIGINT) AS doc_id, '' AS url, host,
       '' AS domain, '' AS path, '' AS norm,
       CAST(n_docs AS BIGINT) AS n_docs, CAST(n_paths AS BIGINT) AS n_paths
FROM ({_HOST_STATS_SQL})
ORDER BY part, doc_id, host
"""


def _q_ivf_suite(spark, sf_dir):
    """Consolidated IVF gate (r8 registry diet): fixed-centroid and
    trained-centroid IVF top-k as one 2-part union — the
    partition-pruning shape and the deterministic k-means training
    replay both stay fully oracle-checked under one driver slot."""
    a = _q_ivf_topk(spark, sf_dir).select(
        F.lit("fixed").alias("part"), "vec_id", "score"
    )
    b = _q_ivf_trained_topk(spark, sf_dir).select(
        F.lit("trained").alias("part"), "vec_id", "score"
    )
    return a.unionByName(b).orderBy("part", F.desc("score"), "vec_id")


def _ivf_suite_sql():
    return f"""
SELECT 'fixed' AS part, vec_id, score FROM ({_ivf_topk_sql()})
UNION ALL
SELECT 'trained' AS part, vec_id, score FROM ({_ivf_trained_topk_sql()})
ORDER BY part, score DESC, vec_id
"""


_LINEAR_WEIGHTS = {"hash": 1.5, "table": -0.75, "scan": 2.0, "slow": -1.25}
_LINEAR_BIAS = 0.1


def _q_linear_score(spark, sf_dir):
    """Fasttext-style sparse linear quality/topic scorer over every
    document (llm/classify.py::linear_text_score, round 8): integer
    micro-unit weights, broadcast vocabulary join, exact per-document
    integer scores; zero-match and NULL-text documents carry the bias
    with n_matched = 0."""
    from duckdb_geography_spark.llm.classify import linear_text_score

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return linear_text_score(
        docs, _LINEAR_WEIGHTS, bias=_LINEAR_BIAS
    ).orderBy("doc_id")


def _linear_score_sql():
    vocab = ",\n    ".join(
        f"('{w}', {int(round(v * 1e6))})"
        for w, v in sorted(_LINEAR_WEIGHTS.items())
    )
    bias = int(round(_LINEAR_BIAS * 1e6))
    return f"""
WITH words AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS word
  FROM documents),
tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
vocab(word, w_micro) AS (
  VALUES
    {vocab}
),
dots AS (
  SELECT t.doc_id, count(*) AS n_matched, sum(t.tf * v.w_micro) AS dot
  FROM tf t JOIN vocab v USING (word) GROUP BY t.doc_id)
SELECT d.doc_id,
  CAST(coalesce(s.n_matched, 0) AS BIGINT) AS n_matched,
  CAST(coalesce(s.dot, 0) + {bias} AS BIGINT) AS score_micro
FROM documents d LEFT JOIN dots s USING (doc_id)
ORDER BY d.doc_id
"""


def _q_weighted_suite(spark, sf_dir):
    """Consolidated weighted-sampling gate (r8 registry diet): the
    global Efraimidis-Spirakis top-50 and the per-language quota draw
    as one 2-part union — identical (doc_id, lang, __priority)
    schemas, both operators keep full-value oracle coverage under one
    driver slot."""
    g = _q_weighted_sample(spark, sf_dir).select(
        F.lit("global").alias("part"), "doc_id", "lang", "__priority"
    )
    s = _q_weighted_stratified(spark, sf_dir).select(
        F.lit("stratum").alias("part"), "doc_id", "lang", "__priority"
    )
    return g.unionByName(s).orderBy("part", "doc_id")


def _weighted_suite_sql():
    return f"""
SELECT 'global' AS part, * FROM ({_WEIGHTED_SAMPLE_SQL})
UNION ALL
SELECT 'stratum' AS part, * FROM ({_WEIGHTED_STRATIFIED_SQL})
ORDER BY part, doc_id
"""


def _q_vocab_drift(spark, sf_dir):
    """Corpus drift report (llm/drift.py::vocab_divergence, round 8):
    smoothed-KL word contributions between the even- and odd-doc_id
    halves of the corpus — top-25 drifting words plus the exact scaled
    total, all integer micronats (add-1 smoothing makes every term a
    log of integers, so both engines land on identical longs)."""
    from duckdb_geography_spark.llm.drift import vocab_divergence

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    # the divergence table is consumed twice (top-25 ranking + total
    # row); its full-outer join's input shuffles reuse at runtime, and
    # a localCheckpoint was measured neutral-to-slower at sf1 (r11) —
    # shared expression only
    d = vocab_divergence(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )
    top = d.orderBy(F.desc("contrib_micro"), "word").limit(25)
    tot = d.agg(
        F.sum("c_a").cast("long").alias("c_a"),
        F.sum("c_b").cast("long").alias("c_b"),
        F.sum("contrib_micro").cast("long").alias("contrib_micro"),
    ).select(F.lit("__total__").alias("word"), "c_a", "c_b", "contrib_micro")
    return top.unionByName(tot).orderBy(F.desc("contrib_micro"), "word")


_VOCAB_DRIFT_SQL = """
WITH wa AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS word
  FROM documents WHERE doc_id % 2 = 0),
ca AS (SELECT word, count(*) AS c_a FROM wa GROUP BY 1),
wb AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '')) AS word
  FROM documents WHERE doc_id % 2 = 1),
cb AS (SELECT word, count(*) AS c_b FROM wb GROUP BY 1),
j AS (
  SELECT coalesce(ca.word, cb.word) AS word,
         coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
  FROM ca FULL OUTER JOIN cb ON ca.word = cb.word),
t AS (SELECT sum(c_a) AS na, sum(c_b) AS nb, count(*) AS v FROM j),
c AS (
  SELECT word, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
    CAST((c_a + 1) * (
        CAST(round(ln(CAST(c_a + 1 AS DOUBLE)) * 1e6) AS BIGINT)
      - CAST(round(ln(CAST(t.na + t.v AS DOUBLE)) * 1e6) AS BIGINT)
      - CAST(round(ln(CAST(c_b + 1 AS DOUBLE)) * 1e6) AS BIGINT)
      + CAST(round(ln(CAST(t.nb + t.v AS DOUBLE)) * 1e6) AS BIGINT)
    ) AS BIGINT) AS contrib_micro
  FROM j, t)
SELECT * FROM (
  SELECT word, c_a, c_b, contrib_micro FROM c
  ORDER BY contrib_micro DESC, word LIMIT 25)
UNION ALL
SELECT '__total__' AS word, CAST(sum(c_a) AS BIGINT), CAST(sum(c_b) AS BIGINT),
       CAST(sum(contrib_micro) AS BIGINT)
FROM c
ORDER BY contrib_micro DESC, word
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness run records the first 50
    # registered queries. The registry is pinned at exactly 100 gates
    # (two 50-slot driver windows); new operators take slots freed by
    # near-dup merges, never growing the count.
    # R11 window (first 50): the cohort recorded green in
    # CORRECTNESS_r09.json, led by embedding_sim_pairs — its output
    # changed shape in r10 (cos4 -> integer cos4q, commit a276cd7) so
    # its newest driver record predates the current shape. Positions
    # 51-100 are the 50 gates recorded green in CORRECTNESS_r10.json.
    # After r11, no gate's latest driver record is older than r10.
    # Every gate, windowed or not, is green in the full local oracle
    # sweep (scripts/check_oracle.py; ORACLE_r{N}_evidence.txt).
    return {
        "embedding_sim_pairs": _q_embedding_pairs,
        "label_centroids": _q_label_centroids,
        "incremental_dedup": _q_incremental_dedup,
        "stratified_sample": _q_stratified_sample,
        "dedup_lines": _q_dedup_lines,
        "funnel": _q_funnel,
        "snapped_distance_pairs": _q_snapped_distance,
        "data_tables_gate": _q_data_tables_gate,
        "jl_project": _q_jl_project,
        "stream_decontaminate": _q_stream_decontaminate,
        "weighted_mix": _q_weighted_mix,
        "geoarrow_roundtrip": _q_geoarrow_roundtrip,
        "corpus_curation": _q_corpus_curation,
        "stream_neardup": _q_stream_neardup,
        "cell_coercion_gate": _q_cell_coercion_gate,
        "rewrite_deep_gate": _q_rewrite_deep_gate,
        "bm25_retrieval": _q_bm25_retrieval,
        "tfidf_vectors": _q_tfidf_vectors,
        "dup_spans": _q_dup_spans,
        "dsir_weights": _q_dsir_weights,
        "hll_distinct": _q_hll_distinct,
        "cms_counts": _q_cms_counts,
        "int8_topk": _q_int8_topk,
        "stream_hll": _q_stream_hll,
        "bloom_prefilter": _q_bloom_prefilter,
        "zorder_layout": _q_zorder_layout,
        "events_hourly": _q_events_hourly,
        "region_rollup": _q_region_rollup,
        "haversine_pairs": _q_haversine_pairs,
        "langid": _q_langid,
        "doc_quality": _q_doc_quality,
        "stream_windowed_counts": _q_stream_windowed_counts,
        "stream_cell_rollup": _q_stream_cell_rollup,
        "stream_sessionize": _q_stream_sessionize,
        "doc_chunks": _q_doc_chunks,
        "doc_prep": _q_doc_prep,
        "rolling_fingerprint": _q_rolling_fingerprint,
        "lsh_topk": _q_lsh_topk,
        "box_ops": _q_box_ops,
        "dwithin_gate": _q_dwithin_gate,
        "multimodal_features": _q_multimodal_features,
        "audio_windows": _q_audio_windows,
        "prepare_gate": _q_prepare_gate,
        "cellfromwkb_gate": _q_cellfromwkb_gate,
        "cell_vertex_gate": _q_cell_vertex_gate,
        "cell_neighbor_gate": _q_cell_neighbor_gate,
        "cell_union_gate": _q_cell_union_gate,
        "bounds_box_gate": _q_bounds_box_gate,
        "validity_gate": _q_validity_gate,
        "debug_string_gate": _q_debug_string_gate,
        "jl_topk": _q_jl_topk,
        "knn_join": _q_knn_join,
        "kmeans_clusters": _q_kmeans_clusters,
        "embedding_knn_join": _q_embedding_knn_join,
        "overlay_suite": _q_overlay_suite,
        "ngram_nll": _q_ngram_nll,
        "simhash_suite": _q_simhash_suite,
        "token_budget_gate": _q_token_budget_gate,
        "snap_cast_distance": _q_snap_cast_distance,
        "tpch_pricing_summary": _q_pricing_summary,
        "tpch_top_orders": _q_top_orders,
        "cell_bitops": _q_cell_bitops,
        "cellfromlonlat": _q_cellfromlonlat,
        "cell_containment_join": _q_cell_containment,
        "pip_covering_join": _q_pip_join,
        "wkt_roundtrip": _q_wkt_roundtrip,
        "rect_measures": _q_rect_measures,
        "covering_sizes": _q_covering_sizes,
        "bounds_box_agg": _q_bounds_box_agg,
        "accessor_suite": _q_accessor_suite,
        "wkb_codec": _q_wkb_codec,
        "predicate_gate": _q_predicate_gate,
        "tsv_roundtrip": _q_tsv_roundtrip,
        "partitioned_sink_gate": _q_partitioned_sink_gate,
        "dedup_exact": _q_dedup_exact,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "embedding_topk": _q_embedding_topk,
        "minhash_lsh_candidates": _q_minhash_candidates,
        "dedup_clusters": _q_dedup_clusters,
        "sessionize_batch": _q_sessionize_batch,
        "repetition_signals": _q_repetition_signals,
        "boilerplate_frac": _q_boilerplate,
        "decontaminate": _q_decontaminate,
        "semdedup": _q_semdedup,
        "sequence_packing": _q_sequence_packing,
        "asof_join": _q_asof_join,
        "interval_join": _q_interval_join,
        "stream_interval_join": _q_stream_interval_join,
        "topk_per_group": _q_topk_per_group,
        "grouped_quantiles": _q_grouped_quantiles,
        "rolling_stats": _q_rolling_stats,
        "web_suite": _q_web_suite,
        "snapshot_diff": _q_snapshot_diff,
        "pq_topk": _q_pq_topk,
        "text_stats": _q_text_stats,
        "ivf_suite": _q_ivf_suite,
        "rrf_hybrid": _q_rrf_hybrid,
        "linear_score": _q_linear_score,
        "vocab_drift": _q_vocab_drift,
        "weighted_suite": _q_weighted_suite,
    }

def oracle_sql_builders() -> "dict[str, Callable[[], str]]":
    """Per-gate lazy oracle builders (r10 ADVICE): several oracles
    read parquet footers or trained artifacts at BUILD time
    (_bounded_mod/_rows_at/_haversine_threshold_m, the trained-
    sample SQL). Building the whole dict eagerly crashes a subset
    replica (a table-missing error before any gate runs), so the
    harness builds only the gates it is about to check.
    oracle_sql() below materializes all of them — the driver runs
    it at sf0.01 where every table exists."""
    return {
        "tpch_pricing_summary": lambda: _PRICING_SUMMARY_SQL,
        "tpch_top_orders": lambda: _TOP_ORDERS_SQL,
        "events_hourly": lambda: _EVENTS_HOURLY_SQL,
        "region_rollup": lambda: _REGION_ROLLUP_SQL,
        "cell_bitops": lambda: _cell_bitops_sql(),
        "cellfromlonlat": lambda: _cellfromlonlat_sql(),
        "cell_containment_join": lambda: _cell_containment_sql(),
        "pip_covering_join": lambda: FLAGSHIP_ORACLE,
        "wkt_roundtrip": lambda: _wkt_roundtrip_sql(),
        "rect_measures": lambda: _rect_measures_sql(),
        "accessor_suite": lambda: _accessor_suite_sql(),
        "wkb_codec": lambda: _wkb_codec_sql(),
        "haversine_pairs": lambda: _haversine_sql(),
        "dedup_exact": lambda: _DEDUP_EXACT_SQL,
        "text_stats": lambda: _TEXT_STATS_SQL,
        "langid": lambda: _langid_sql(),
        "ngram_jaccard_pairs": lambda: _ngram_jaccard_sql(),
        "doc_quality": lambda: _DOC_QUALITY_SQL,
        "sessionize_batch": lambda: _SESSIONIZE_SQL,
        "stream_windowed_counts": lambda: _STREAM_WINDOWED_SQL,
        "stream_cell_rollup": lambda: _stream_cell_rollup_sql(),
        "stream_sessionize": lambda: _stream_sessionize_sql(),
        "doc_chunks": lambda: _DOC_CHUNKS_SQL,
        "doc_prep": lambda: _doc_prep_sql(),
        "rolling_fingerprint": lambda: _ROLLING_FP_SQL,
        "embedding_sim_pairs": lambda: _embedding_pairs_sql(),
        "embedding_topk": lambda: _EMBEDDING_TOPK_SQL,
        "snapped_distance_pairs": lambda: _snapped_distance_sql(),
        "box_ops": lambda: _box_ops_sql(),
        "predicate_gate": lambda: _predicate_gate_sql(),
        "dwithin_gate": lambda: _dwithin_gate_sql(),
        "multimodal_features": lambda: _MULTIMODAL_SQL,
        "minhash_lsh_candidates": lambda: _minhash_sql(),
        "dedup_clusters": lambda: _dedup_clusters_sql(),
        "simhash_suite": lambda: _simhash_suite_sql(),
        "lsh_topk": lambda: _lsh_topk_sql(),
        "ivf_suite": lambda: _ivf_suite_sql(),
        "rrf_hybrid": lambda: _rrf_hybrid_sql(),
        "covering_sizes": lambda: _covering_sizes_sql(),
        "bounds_box_agg": lambda: _bounds_box_agg_sql(),
        "overlay_suite": lambda: _overlay_suite_sql(),
        "audio_windows": lambda: _AUDIO_WINDOWS_SQL,
        "prepare_gate": lambda: _PREPARE_GATE_SQL,
        "cellfromwkb_gate": lambda: _cellfromwkb_sql(),
        "cell_vertex_gate": lambda: _cell_vertex_sql(),
        "cell_neighbor_gate": lambda: _cell_neighbor_sql(),
        "cell_union_gate": lambda: _cell_union_sql(),
        "bounds_box_gate": lambda: _BOUNDS_BOX_GATE_SQL,
        "validity_gate": lambda: _VALIDITY_GATE_SQL,
        "debug_string_gate": lambda: _debug_string_sql(),
        "geoarrow_roundtrip": lambda: _geoarrow_roundtrip_sql(),
        "data_tables_gate": lambda: _data_tables_sql(),
        "tsv_roundtrip": lambda: _tsv_roundtrip_sql(),
        "partitioned_sink_gate": lambda: _partitioned_sink_sql(),
        "repetition_signals": lambda: _repetition_signals_sql(),
        "boilerplate_frac": lambda: _boilerplate_sql(),
        "decontaminate": lambda: _decontaminate_sql(),
        "semdedup": lambda: _semdedup_sql(),
        "stream_decontaminate": lambda: _decontaminate_sql( stream_m=_bounded_mod(_oracle_sf_dir(), "documents", base=50_000) ),
        "sequence_packing": lambda: _SEQUENCE_PACKING_SQL,
        "ngram_nll": lambda: _ngram_nll_sql(),
        "asof_join": lambda: _ASOF_JOIN_SQL,
        "interval_join": lambda: _INTERVAL_JOIN_SQL,
        "topk_per_group": lambda: _TOPK_PER_GROUP_SQL,
        "grouped_quantiles": lambda: _GROUPED_QUANTILES_SQL,
        "rolling_stats": lambda: _ROLLING_STATS_SQL,
        "stream_interval_join": lambda: _INTERVAL_JOIN_SQL,
        "web_suite": lambda: _web_suite_sql(),
        "snapshot_diff": lambda: _SNAPSHOT_DIFF_SQL,
        "pq_topk": lambda: _pq_topk_sql(),
        "incremental_dedup": lambda: _INCREMENTAL_DEDUP_SQL,
        "stratified_sample": lambda: _STRATIFIED_SAMPLE_SQL,
        "dedup_lines": lambda: _DEDUP_LINES_SQL,
        "linear_score": lambda: _linear_score_sql(),
        "weighted_mix": lambda: _WEIGHTED_MIX_SQL,
        "funnel": lambda: _FUNNEL_SQL,
        "corpus_curation": lambda: _curation_sql(),
        "stream_neardup": lambda: _stream_neardup_sql(),
        "cell_coercion_gate": lambda: _cell_coercion_sql(),
        "rewrite_deep_gate": lambda: _rewrite_deep_sql(),
        "bm25_retrieval": lambda: _bm25_sql(),
        "tfidf_vectors": lambda: _TFIDF_SQL,
        "dup_spans": lambda: _DUP_SPANS_SQL,
        "dsir_weights": lambda: _DSIR_SQL,
        "hll_distinct": lambda: _HLL_SQL,
        "cms_counts": lambda: _CMS_SQL,
        "int8_topk": lambda: _INT8_TOPK_SQL,
        "jl_project": lambda: _JL_PROJECT_SQL,
        "snap_cast_distance": lambda: _snap_cast_distance_sql(),
        "stream_hll": lambda: _STREAM_HLL_SQL,
        "bloom_prefilter": lambda: _BLOOM_SQL,
        "weighted_suite": lambda: _weighted_suite_sql(),
        "zorder_layout": lambda: _zorder_layout_sql(),
        "vocab_drift": lambda: _VOCAB_DRIFT_SQL,
        "token_budget_gate": lambda: _token_budget_gate_sql(),
        "jl_topk": lambda: _jl_topk_sql(),
        "knn_join": lambda: _knn_join_sql(),
        "kmeans_clusters": lambda: _kmeans_clusters_sql(),
        "embedding_knn_join": lambda: _EMBEDDING_KNN_JOIN_SQL,
        "label_centroids": lambda: _LABEL_CENTROIDS_SQL,
    }


def oracle_sql() -> dict[str, str]:
    return {name: build() for name, build in oracle_sql_builders().items()}
