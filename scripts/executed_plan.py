"""Capture the EXECUTED (AQE-final) plan of bench/oracle gates — the
evidence VERDICT r11 item 5 asks for: ReusedExchange nodes are a
runtime artifact, invisible in the pre-execution explain, so shared-
subtree claims must be proven on the post-run plan.

Usage:
  python scripts/executed_plan.py <out_suffix> <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/repo/.scale/sf1), SPARK_GRAFT_CPUS.

Writes plans/r12/<query>_executed_<out_suffix>.txt and prints a
one-line ReusedExchange/Exchange/scan summary per query.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/.scale/sf1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]

    import __spark_entry__ as e
    from duckdb_geography_spark.session import get_spark

    spark = get_spark(cpus=CPUS, shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12"
    )
    os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        spark.sparkContext.setJobDescription(f"executed_plan {name}")
        df = qs[name](spark, SF_DIR)
        n = len(df.collect())  # executes THIS QueryExecution -> AQE final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        path = os.path.join(plans_dir, f"{name}_executed_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        stats = {
            "final": "isFinalPlan=true" in plan,
            "reused_exchange": len(re.findall(r"ReusedExchange", plan)),
            "exchanges": len(re.findall(r"\bExchange\b", plan)),
            "scans": len(re.findall(r"Scan parquet", plan)),
            "python": len(
                re.findall(
                    r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow)", plan
                )
            ),
            "rows": n,
        }
        print(f"# {name}: {stats}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
