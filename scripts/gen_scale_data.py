"""Generate an sf1.0-equivalent dataset for SCALING measurements by
replicating /root/testdata/sf0.1 10x with shifted keys.

The driver's fixtures stop at sf0.1; this produces 10x the rows with
the same schema, the same per-copy distributions, and intact
referential integrity (every copy shifts ALL related keys by the same
stride, so join fan-outs match sf0.1 exactly). Content columns are
perturbed per copy so content-keyed operators scale linearly instead
of quadratically:

- ``documents.text`` goes through a per-copy letter rotation
  (F.translate), making shingle sets disjoint across copies — near-dup
  structure per copy matches sf0.1, total candidate pairs ~10x (NOT
  45x, which is what 10 near-identical copies of every doc would give
  and would measure an artifact, not the engine);
- ``embeddings.embedding`` gets a per-copy alternating-sign offset so
  cosine near-dup pairs replicate per copy instead of cross-copy.

Dimension tables (region, nation, part, supplier) keep their TPC-H
scaling (part/supplier also x10; region/nation fixed).

Output: /root/repo/.scale/sf1/*.parquet (gitignored — ~170 MB).
"""

from __future__ import annotations

import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SCALE_SRC", "/root/testdata/sf0.1")
DST = os.environ.get(
    "SCALE_DST",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1"),
)
COPIES = int(os.environ.get("SCALE_COPIES", "10"))
#: optional comma-separated subset of tables to (re)generate — the
#: sf10 scaling point only needs the tables its 3 headline gates read
ONLY = [t for t in os.environ.get("SCALE_TABLES", "").split(",") if t]

#: key columns shifted per copy, per table (stride = 10^ceil(log10(max+1)))
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
#: key spaces must shift with the SAME stride across tables so FK
#: relationships survive (o_custkey must follow c_custkey's shift)
KEY_SPACES = {
    "c_custkey": "customer",
    "o_custkey": "customer",
    "o_orderkey": "orders",
    "l_orderkey": "orders",
    "p_partkey": "part",
    "l_partkey": "part",
    "s_suppkey": "supplier",
    "l_suppkey": "supplier",
    "event_id": "events_id",
    "user_id": "events_user",
    "doc_id": "documents",
    "vec_id": "embeddings",
}
FIXED = ["region", "nation"]
SCALED = ["customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    from pyspark.sql import functions as F

    from duckdb_geography_spark.session import get_spark

    spark = get_spark(cpus=os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    os.makedirs(DST, exist_ok=True)

    for t in FIXED:
        if ONLY and t not in ONLY:
            continue
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{DST}/{t}.parquet"
        )
        print(f"{t}: copied")

    # one stride per key SPACE, from the max over every column bound to it.
    # With SCALE_TABLES set, only the selected tables are read — a subset
    # replica (e.g. the sf100 scan-gate stage, which carries only
    # documents/embeddings/events) has no customer/orders parquet to probe.
    # Safe because the subset's key spaces are self-contained; generating
    # one HALF of a coupled space (orders without customer) through ONLY
    # would desync FK shifts, so refuse that combination explicitly.
    if ONLY:
        selected = set(ONLY)
        for col, space in KEY_SPACES.items():
            owners = {tt for tt in SCALED for cc in KEY_COLS[tt] if KEY_SPACES[cc] == space}
            if selected & owners and not owners <= selected:
                missing = owners - selected
                raise SystemExit(
                    f"SCALE_TABLES includes {sorted(selected & owners)} but not "
                    f"{sorted(missing)} — key space {space!r} spans both; "
                    "shift them together or not at all"
                )
    strides = {}
    for t in SCALED:
        if ONLY and t not in ONLY:
            continue
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        for c in KEY_COLS[t]:
            space = KEY_SPACES[c]
            mx = df.agg(F.max(F.col(c).cast("long"))).first()[0] or 0
            strides[space] = max(strides.get(space, 0), int(mx) + 1)
    # round strides up to a power of ten (readable shifted ids)
    for k, v in strides.items():
        s = 1
        while s < v:
            s *= 10
        strides[k] = s

    lower = string.ascii_lowercase
    upper = string.ascii_uppercase

    def _letter_perm(i: int) -> str:
        """Distinct lowercase permutation per copy for up to 104
        copies: rotation x {identity, reversal, adjacent-swap,
        both}. A plain rotation collides after 26 copies (copy 26
        would equal copy 0, reintroducing the cross-copy near-dup
        artifact the rotation exists to avoid)."""
        r, t = i % 26, (i // 26) % 4
        base = lower[r:] + lower[:r]
        if t in (1, 3):
            base = base[::-1]
        if t in (2, 3):
            base = "".join(base[j + 1] + base[j] for j in range(0, 26, 2))
        return base

    perms = [_letter_perm(i) for i in range(COPIES)]
    assert len(set(perms)) == COPIES, "letter perms must be copy-distinct"

    for t in SCALED:
        if ONLY and t not in ONLY:
            continue
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        parts = []
        for i in range(COPIES):
            df = src
            for c in KEY_COLS[t]:
                df = df.withColumn(
                    c, (F.col(c).cast("long") + F.lit(i * strides[KEY_SPACES[c]])).cast("long")
                )
            if t == "documents" and i > 0:
                pl = perms[i]
                df = df.withColumn(
                    "text", F.translate("text", lower + upper, pl + pl.upper())
                )
            if t == "embeddings" and i > 0:
                df = df.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda x, j: (
                            x
                            + F.lit(0.07 * i)
                            * F.when(j % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
                        ).cast("float"),
                    ),
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        out.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        n = spark.read.parquet(f"{DST}/{t}.parquet").count()
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
