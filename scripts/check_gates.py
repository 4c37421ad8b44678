"""Driver-style side-by-side check of queries() vs oracle_sql().

Usage: python scripts/check_gates.py [query ...] [--sf DIR]
With no query names, checks every registered query.
"""

import os
import sys

sys.path.insert(0, "/root/repo")

import duckdb
import numpy as np

import __spark_entry__ as e
from duckdb_geography_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    sf = "/root/testdata/sf0.01"
    # (the oracle training-sample dir is pinned AFTER arg parsing below)
    args = []
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--sf="):
            sf = a.split("=", 1)[1]
        elif a == "--sf":
            i += 1
            if i >= len(argv):
                raise SystemExit("--sf requires a directory argument")
            sf = argv[i]
        elif a.startswith("--"):
            raise SystemExit(f"unknown option {a!r}")
        else:
            args.append(a)
        i += 1
    spark = get_spark(cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written dataset directory
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS FROM '{path}'")
    # the trained-sample oracle generators (IVF / k-means / PQ / JL)
    # must replay training from the SAME sf dir the Spark side reads
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf
    qs, osql = e.queries(), e.oracle_sql()
    names = args or list(qs)
    n_ok = 0
    for name in names:
        try:
            got = qs[name](spark, sf).toPandas()
            if name not in osql:
                print(f"{name}: NO-ORACLE rows={len(got)}")
                continue
            want = con.sql(osql[name]).df()
            gcols, wcols = sorted(got.columns), sorted(want.columns)
            if gcols != wcols:
                print(f"{name}: SCHEMA-MISMATCH {gcols} vs {wcols}")
                continue
            # array/list cells (embedding columns) are unsortable and
            # unhashable — normalize them to rounded strings first,
            # the same treatment check_oracle.py's norm_frame applies
            def _norm_obj(df_):
                for c_ in df_.columns:
                    if df_[c_].dtype == object:
                        df_[c_] = df_[c_].map(
                            lambda v: (
                                str([round(float(x), 6) for x in v])
                                if isinstance(v, (list, tuple, np.ndarray))
                                else str(v)
                            )
                        )
                return df_

            got = _norm_obj(got)
            want = _norm_obj(want)
            got = got[gcols].sort_values(gcols).reset_index(drop=True)
            want = want[wcols].sort_values(wcols).reset_index(drop=True)
            if got.shape != want.shape:
                print(f"{name}: ROWS-MISMATCH {got.shape} vs {want.shape}")
                continue
            bad = None
            for c in gcols:
                g, w = got[c], want[c]
                if g.dtype.kind == "f" or w.dtype.kind == "f":
                    eq = np.isclose(
                        g.astype(float), w.astype(float), rtol=0, atol=0, equal_nan=True
                    )
                else:
                    eq = g.astype(str).to_numpy() == w.astype(str).to_numpy()
                if not eq.all():
                    i = int(np.argmin(eq))
                    bad = (c, i, g.iloc[i], w.iloc[i])
                    break
            if bad:
                print(f"{name}: VALUE-MISMATCH col={bad[0]} row={bad[1]} got={bad[2]!r} want={bad[3]!r}")
            else:
                n_ok += 1
                print(f"{name}: OK ({got.shape[0]} rows)")
        except Exception as ex:
            print(f"{name}: ERROR {type(ex).__name__}: {ex}")
    print(f"== {n_ok}/{len(names)} OK")


if __name__ == "__main__":
    main()
