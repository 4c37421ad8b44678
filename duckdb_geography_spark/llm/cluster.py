"""Distributed spherical k-means over an embedding corpus.

The corpus-clustering primitive behind SemDeDup-style curation and
IVF index builds: :mod:`similarity`'s ``train_ivf_centroids`` runs
Lloyd's on a bounded DRIVER-side sample (fine for a quantizer); this
module runs the iterations over the FULL distributed corpus — the
shape needed when cluster assignments themselves are the product
(per-cluster dedup, cluster-balanced sampling, topic bucketing).

Scale shape (per iteration, ``iters`` is small and fixed):

- ASSIGN: centroids are a (k, dim) float64 literal broadcast inside
  an Arrow-batched pandas UDF closure — argmax of ``X @ C.T`` per
  batch, map-side only, no shuffle.
- UPDATE: each vector's QUANTIZED unit form (``floor(x/||v|| * Q +
  0.5)`` per component, int64) is posexploded to (cluster, dim_pos,
  q) and summed by ``groupBy(cluster, pos)`` — a map-side-combinable
  integer aggregate, so the shuffle carries at most ``k x dim x
  partitions`` rows and the sums are EXACT integers, identical at any
  parallelism and replayable bit-for-bit by a single-node oracle
  (the order-free-integer-sum trick llm/dsir.py uses for log-space
  weights). The driver holds k x dim longs per iteration.

Determinism contract: seeded kmeans++ init on the same bounded
hash-ordered sample as the IVF trainer, fixed iteration count,
first-wins argmax ties, empty clusters keep their previous centroid.
:func:`kmeans_replay_pandas` reruns the identical arithmetic on a
pandas frame — the DuckDB oracle embeds its final centroids as
literals and replays only the final assignment.

The reference has no clustering surface (beyond-reference operator).
"""

from __future__ import annotations

import math
from typing import Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

__all__ = [
    "kmeans_fit",
    "kmeans_assign",
    "kmeans_replay_pandas",
    "cluster_balanced_sample",
]

#: quantization scale for the integer update sums (micro-units of a
#: unit vector component): coarse enough that int64 never overflows
#: (dim * Q < 2^63 / rows for any realistic corpus), fine enough that
#: the centroid drift vs exact means is ~1e-6 per component
_Q = 1_000_000


def _seq_norm(row: np.ndarray) -> float:
    """Sequential sum of squares — the same IEEE operation order as
    Spark's ``F.aggregate`` fold, so the quantized unit vectors match
    the distributed ones bit-for-bit (numpy's pairwise ``sum`` can
    differ in the last ulp)."""
    s = 0.0
    for v in row:
        s += v * v
    return math.sqrt(s)


def _quantize_rows(X: np.ndarray, quant: int = _Q) -> np.ndarray:
    out = np.empty(X.shape, dtype=np.int64)
    for i in range(len(X)):
        n = _seq_norm(X[i])
        if n == 0.0:
            out[i] = 0
        else:
            out[i] = np.floor(X[i] / n * quant + 0.5).astype(np.int64)
    return out


def _assign_udf(cents: np.ndarray):
    C = np.ascontiguousarray(cents, dtype=np.float64)

    @F.pandas_udf(IntegerType())
    def _udf(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype=np.int32)
        mask = s.notna().to_numpy()
        out = np.full(len(s), -1, dtype=np.float64)
        if mask.any():
            X = np.stack(s[mask].to_numpy()).astype(np.float64)
            # argmax is invariant to the (positive) norm scale, so the
            # raw vector dot suffices — first max wins, like the SQL
            # oracle's list_indexof(cd, list_max(cd))
            out[mask] = np.argmax(X @ C.T, axis=1)
        res = pd.Series(out).astype("Int32")
        res[~mask] = None  # NULL vector -> NULL cluster, never a fake id
        return res

    return _udf


def _quant_col(vec_col: str, quant: int = _Q) -> Column:
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ss = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    norm = F.sqrt(ss)
    return F.when(norm == 0.0, F.transform(v, lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(v, lambda x: F.floor(x / norm * F.lit(float(quant)) + 0.5).cast("long"))
    )


def _update_centroids(
    cents: np.ndarray, sums: dict, dim: int
) -> np.ndarray:
    """Shared by the distributed fit and the pandas replay: new unit
    centroids from exact integer component sums; clusters with no
    members (or a zero sum) keep their previous centroid."""
    new = cents.copy()
    for j, vec in sums.items():
        arr = np.asarray(vec, dtype=np.float64)
        n = np.linalg.norm(arr)
        if n > 0.0:
            new[j] = arr / n
    return new


def _init_centroids(
    sample: np.ndarray, k: int, seed: int
) -> np.ndarray:
    from .similarity import train_ivf_centroids

    # 0 Lloyd's iterations on the sample = the seeded greedy kmeans++
    # picks only; the real iterations run distributed
    return train_ivf_centroids(sample, n_centroids=k, seed=seed, iters=0)


def _lloyd_partials_kernel(cents: np.ndarray, quant: int = _Q):
    """mapInArrow kernel for ONE Lloyd iteration: assign every vector
    to its argmax centroid and accumulate the per-cluster quantized
    component sums ACROSS the whole task, emitting <= k tiny rows
    (cluster, sums) per task — the r12 fusion of ``_assign_udf`` +
    the ``sum(element_at(__qv, i))`` aggregate into a single Python
    stage (guide §4.2, the ivf_assign_score_udf template).

    Exactness contract (test-pinned by the fit-vs-replay identity):
    - assignment = ``np.argmax(X @ C.T, axis=1)`` — the *same* call on
      the same Arrow batch slices as ``_assign_udf`` (first max wins);
    - quantization replays ``_quant_col`` bit-for-bit: ``np.cumsum``
      is the sequential left-to-right fold of ``F.aggregate`` (and
      ``_seq_norm``), then ``floor(x / norm * Q + 0.5)`` in float64;
    - the component sums are int64 additions — exact and order-free,
      so per-task partials summed on the driver equal the one global
      aggregate the JVM form computed;
    - NULL vectors get no assignment (the old NULL-cluster rows were
      dropped before the aggregate)."""
    C = np.ascontiguousarray(cents, dtype=np.float64)
    k, dim = C.shape
    fquant = float(quant)

    def _fn(batches):
        import pyarrow as pa

        sums = np.zeros((k, dim), dtype=np.int64)
        seen = np.zeros(k, dtype=bool)
        for batch in batches:
            s = batch.column(0).to_pandas()
            mask = s.notna().to_numpy()
            if not mask.any():
                continue
            X = np.stack(s[mask].to_numpy()).astype(np.float64)
            assign = np.argmax(X @ C.T, axis=1)
            norm = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
            Q = np.zeros(X.shape, dtype=np.int64)
            # NaN/inf norms (a NaN, NULL or inf element) quantize to 0
            # like the JVM form; floor(NaN) would cast to INT64_MIN
            nz = np.isfinite(norm) & (norm != 0.0)
            if nz.any():
                Q[nz] = np.floor(
                    X[nz] / norm[nz, None] * fquant + 0.5
                ).astype(np.int64)
            for j in np.unique(assign):
                sums[j] += Q[assign == j].sum(axis=0)
                seen[j] = True
        idx = np.nonzero(seen)[0]
        yield pa.RecordBatch.from_pydict(
            {
                "__c": pa.array(idx.astype("int32"), type=pa.int32()),
                "__sums": pa.array(
                    [sums[j].tolist() for j in idx], type=pa.list_(pa.int64())
                ),
            }
        )

    return _fn


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    sample_size: int = 256,
    seed: int = 11,
) -> np.ndarray:
    """Run ``iters`` distributed Lloyd's iterations and return the
    (k, dim) unit centroids. See the module docstring for the per-
    iteration plan shape. ``df`` is cached (raw vectors only) for the
    duration of the loop."""
    from .similarity import ivf_training_sample

    if k < 1:
        raise ValueError("kmeans_fit: k must be >= 1")
    if iters < 0:
        raise ValueError("kmeans_fit: iters must be >= 0")
    sample = ivf_training_sample(
        df, vec_col=vec_col, key_col=key_col, sample_size=sample_size
    )
    cents = _init_centroids(sample, k, seed)
    dim = cents.shape[1]
    # the cache carries ONLY the raw vector: quantization moved into
    # the iteration kernel (r12), so the cached footprint halved and
    # the quantize expressions are no longer evaluated while caching
    base = df.select(F.col(vec_col).alias("__v")).persist()
    # per-iteration update (r12): ONE mapInArrow stage computes the
    # assignment AND the per-cluster integer component sums, emitting
    # <= k rows per task; the driver sums the tiny partials. The r11
    # form paid an ArrowEvalPython (assign) + a k-row JVM aggregate +
    # an exchange per iteration; this is one Python stage and zero
    # exchanges per iteration, with bit-identical integer sums
    # (order-free int64 addition; fit-vs-replay test-pinned).
    try:
        for _ in range(int(iters)):
            rows = base.mapInArrow(
                _lloyd_partials_kernel(cents), "__c int, __sums array<long>"
            ).collect()
            acc: dict = {}
            for r in rows:
                c = int(r["__c"])
                vec = np.asarray(r["__sums"], dtype=np.int64)
                acc[c] = vec if c not in acc else acc[c] + vec
            sums = {c: v.tolist() for c, v in acc.items()}
            cents = _update_centroids(cents, sums, dim)
    finally:
        base.unpersist()
    return cents


def kmeans_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Map-side assignment of every row to its nearest centroid
    (argmax cosine — the centroids are unit vectors, and argmax over
    the raw dot is norm-invariant). No shuffle."""
    return df.withColumn(out_col, _assign_udf(np.asarray(centroids, dtype=np.float64))(vec_col))


def kmeans_replay_pandas(
    pdf: pd.DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    sample_size: int = 256,
    seed: int = 11,
) -> Tuple[np.ndarray, np.ndarray]:
    """Single-node replay of :func:`kmeans_fit` + :func:`kmeans_assign`
    on a pandas frame — the same init, the same sequential-fold
    normalization, the same integer quantized sums (exact, so the
    order difference vs the distributed aggregate cannot matter), the
    same first-wins argmax. Used by the oracle generator to embed
    centroid literals. Returns (centroids, assignments) with
    assignments aligned to ``pdf`` row order."""
    from .similarity import training_sample_pandas

    sample = training_sample_pandas(
        pdf, vec_col=vec_col, key_col=key_col, sample_size=sample_size
    )
    cents = _init_centroids(sample, k, seed)
    X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    QX = _quantize_rows(X)
    dim = cents.shape[1]
    assign = np.zeros(len(X), dtype=np.int64)
    for _ in range(int(iters)):
        assign = np.argmax(X @ cents.T, axis=1)
        sums = {}
        for j in range(k):
            members = QX[assign == j]
            if len(members):
                sums[j] = members.sum(axis=0)
        cents = _update_centroids(cents, sums, dim)
    assign = np.argmax(X @ cents.T, axis=1)
    return cents, assign


def cluster_balanced_sample(
    df: DataFrame,
    centroids: np.ndarray,
    per_cluster: int,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    salt: str = "",
) -> DataFrame:
    """Cluster-balanced corpus sampling: assign every row to its
    nearest centroid and keep a deterministic hash-ordered sample of
    at most ``per_cluster`` rows per cluster — the diversity-preserving
    downsampling step after :func:`kmeans_fit` (cap the dominant
    topics, keep the tail). Pure composition of :func:`kmeans_assign`
    (map-side) and one row_number window on the cluster key (ONE
    shuffle, same shape as the gated topk_per_group /
    stratified_sample primitives). The md5 ordering is the same
    content-independent deterministic draw hash_sample uses; ``salt``
    yields an independent sample."""
    from pyspark.sql import Window

    if per_cluster < 1:
        raise ValueError("cluster_balanced_sample: per_cluster must be >= 1")
    out = kmeans_assign(df, centroids, vec_col=vec_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        F.col(key_col),
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(per_cluster))
        .drop("__rn")
    )
