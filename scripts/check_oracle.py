"""Replicates the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB, compare rowcount +
schema-ordered values. Usage:
python scripts/check_oracle.py [sf_dir] [gate_name ...]  (no names = all)"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import functools
print = functools.partial(print, flush=True)

import __spark_entry__ as e  # noqa: E402


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v))
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64).round(9)
        elif np.issubdtype(df[c].dtype, np.integer) or df[c].dtype == bool:
            df[c] = df[c].astype(np.int64)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main(sf_dir: str, only=None) -> int:
    from duckdb_geography_spark.session import get_spark

    spark = get_spark(cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in e.TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            # subset replicas (.scale/sf100 carries only the tables its
            # gates read) — a gate touching a missing table fails
            # loudly on its own; its oracle SQL is built lazily below
            # so the missing table can't crash the run at construction
            continue
        if os.path.isdir(path):  # Spark-written dataset directory
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS FROM '{path}'")
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    # bounded-output variants of the output-quadratic gates: a no-op
    # at sf0.01 (all knobs resolve to their defaults there), required
    # for full-value replays at sf1+ (see __spark_entry__._bounded_gates)
    os.environ["SPARK_GRAFT_BOUNDED_GATES"] = "1"
    # lazy per-gate oracle build (r10 ADVICE): several oracles read
    # parquet footers / trained artifacts at BUILD time, so building
    # the full dict eagerly would crash a subset replica before any
    # gate executes
    qs, builders = e.queries(), e.oracle_sql_builders()
    if only:
        unknown = set(only) - set(qs)
        if unknown:
            raise SystemExit(f"unknown gates: {sorted(unknown)}")
        qs = {n: qs[n] for n in only}
    failures = []
    for name, fn in qs.items():
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"[FAIL-spark] {name}: {ex}")
            continue
        if name not in builders:
            print(f"[rows-only] {name}: {len(got)} rows")
            if len(got) == 0 and name != "noop":
                failures.append((name, "0 rows"))
            continue
        try:
            want = con.sql(builders[name]()).df()
        except Exception as ex:
            failures.append((name, f"ORACLE ERROR: {ex}"))
            print(f"[FAIL-oracle] {name}: {ex}")
            continue
        g, w = norm_frame(got), norm_frame(want)
        if list(g.columns) != list(w.columns):
            failures.append((name, f"columns {list(g.columns)} vs {list(w.columns)}"))
            print(f"[FAIL-cols] {name}: {list(g.columns)} vs {list(w.columns)}")
            continue
        if len(g) != len(w):
            failures.append((name, f"rowcount {len(g)} vs {len(w)}"))
            print(f"[FAIL-rows] {name}: {len(g)} vs {len(w)}")
            continue
        if not g.equals(w):
            neq = (g != w) & ~(g.isna() & w.isna())
            bad_cols = [c for c in g.columns if neq[c].any()]
            n_bad = int(neq.any(axis=1).sum())
            failures.append((name, f"{n_bad} rows differ in {bad_cols}"))
            print(f"[FAIL-vals] {name}: {n_bad}/{len(g)} rows differ in {bad_cols}")
            for c in bad_cols[:2]:
                idx = neq[c].idxmax()
                print(f"    e.g. {c}: spark={g[c][idx]!r} oracle={w[c][idx]!r}")
        else:
            print(f"[OK] {name}: {len(g)} rows")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries pass")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            only=sys.argv[2:] or None,
        )
    )
