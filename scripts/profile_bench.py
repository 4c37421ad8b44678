"""Round-11 measurement harness (guide §1: measure first).

For each bench query: capture .explain('formatted') to
plans/r11/<name>_<tag>.txt, time the bench action (same .count()
methodology as bench.py so numbers are comparable), and count the
Spark jobs the action launched via a per-query job group — job count
is the fixed-overhead proxy at sf0.1 where most gates are latency-
bound, not data-bound.

Usage:
  python scripts/profile_bench.py [tag] [query ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_PASSES.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def plan_stats(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "python": len(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)", plan)),
        "scans": len(re.findall(r"Scan parquet", plan)),
        "aggs": len(re.findall(r"HashAggregate", plan)),
    }


def main() -> None:
    args = sys.argv[1:]
    tag = args[0] if args else "before"
    only = args[1:]

    from pyspark.sql import functions as F

    import __spark_entry__ as e
    import bench
    from duckdb_geography_spark.session import get_spark

    spark = get_spark(cpus=CPUS, shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    qs = e.queries()
    names = only or bench.bench_queries()

    # same warmup as bench.py
    from duckdb_geography_spark.functions import cells as C

    import glob as _glob

    _tables = sorted(_glob.glob(f"{SF_DIR}/*.parquet"), key=os.path.getsize)
    spark.read.parquet(_tables[0]).count()
    ncpu = int(CPUS) if str(CPUS).isdigit() else os.cpu_count()
    spark.range(0, ncpu * 4, 1, ncpu * 4).select(
        C.s2_cellfromlonlat(F.lit(1.0), F.lit(2.0)).alias("c")
    ).count()
    from duckdb_geography_spark.functions.bounds import s2_covering
    from duckdb_geography_spark.functions.io import s2_geogfromtext
    from duckdb_geography_spark.functions.predicates import s2_intersects

    tiny = spark.range(0, ncpu * 4, 1, ncpu * 4).select(
        s2_geogfromtext(F.lit("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")).alias("g")
    )
    tiny.select(F.size(s2_covering("g")).alias("n"), s2_intersects("g", "g").alias("i")).count()
    import pandas as _pd

    spark.createDataFrame(_pd.DataFrame({"a": [1, 2], "b": [3, 4]})).count()

    def _warm(path):
        if os.path.isdir(path):
            for sub in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
                _warm(sub)
            return
        with open(path, "rb") as fh:
            while fh.read(1 << 24):
                pass

    for p in sorted(_glob.glob(f"{SF_DIR}/*.parquet")):
        _warm(p)

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_DIR", "r12"),
    )
    os.makedirs(plans_dir, exist_ok=True)

    passes = int(os.environ.get("SPARK_GRAFT_PASSES", "3"))
    report = {}
    for name in names:
        # plan-build wall: driver-side DataFrame construction + any
        # bounded collects the builder itself runs (sample collects,
        # query-vector fetches) — invisible in explain but real wall
        t0 = time.perf_counter()
        df = qs[name](spark, SF_DIR)
        build_s = time.perf_counter() - t0
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        best = float("inf")
        jobs = 0
        for i in range(passes):
            group = f"{name}-{tag}-{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            rows = qs[name](spark, SF_DIR).count()
            dt = time.perf_counter() - t0
            if dt < best:
                best = dt
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        st = plan_stats(plan)
        report[name] = {
            "sec": round(best, 3),
            "build_sec": round(build_s, 3),
            "jobs": jobs,
            "rows": rows,
            **st,
        }
        print(
            f"# {name}: {best:.3f}s build={build_s:.3f}s jobs={jobs} "
            f"exch={st['exchanges']} py={st['python']} scans={st['scans']} rows={rows}",
            file=sys.stderr,
        )

    out = os.path.join(plans_dir, f"profile_{tag}.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
