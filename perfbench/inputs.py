"""Seeded inputs for the workloads, written with a fixed file layout.

Every generator draws from ``numpy.random.default_rng([seed, stream,
index])``: the timed passes use stream ``TIMED`` and the warm-up
passes stream ``WARMUP``, so warm-up inputs share no value with timed
ones. Files are written by pyarrow with a fixed file count and row-group
size, so the same seed gives byte-identical files and Spark splits them
into the same partitions on every run.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TIMED, WARMUP = 0, 1

#: one file per core of the 4-core reference box; Spark makes one
#: partition of each file (every file is below its split size)
FILES = 4

_PAIR = re.compile(r"(-?\d+(?:\.\d+)?) (-?\d+(?:\.\d+)?)")
_MICRO = 1_000_000
_TURN = 360 * _MICRO


def rng(seed: int, stream: int, index: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


def write_files(table: pa.Table, path: str, file_of_row: np.ndarray) -> str:
    """Write ``table`` as ``FILES`` parquet files, row r going to file
    ``file_of_row[r]`` (rows keep their order within a file)."""
    os.makedirs(path, exist_ok=True)
    for f in range(FILES):
        part = table.filter(pa.array(file_of_row == f))
        pq.write_table(part, os.path.join(path, f"part-{f}.parquet"),
                       row_group_size=max(1, part.num_rows))
    return path


def even_files(n: int) -> np.ndarray:
    """Contiguous, equal blocks of rows per file."""
    return (np.arange(n) * FILES) // n


# -- points ---------------------------------------------------------------

def sphere_points(g: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` points uniform on the sphere, as lon/lat degrees."""
    lon = g.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(g.uniform(-1.0, 1.0, n)))
    return lon, lat


def points_table(seed: int, stream: int, index: int, n: int) -> pa.Table:
    lon, lat = sphere_points(rng(seed, stream, index), n)
    pid = np.arange(n, dtype=np.int64) + np.int64(index) * n
    return pa.table({"pid": pid, "lon": lon, "lat": lat})


# -- rotated countries ----------------------------------------------------

class RotatableWkt:
    """A WKT polygon whose longitudes can be shifted exactly.

    Bundled coordinates have at most 6 decimals, so longitudes are held
    as integer micro-degrees: a rotation about the polar axis by a whole
    number of micro-degrees is exact, and latitudes keep their text.
    """

    def __init__(self, wkt: str):
        lons: list[int] = []

        def take(m: re.Match) -> str:
            lons.append(round(float(m.group(1)) * _MICRO))
            return "{} " + m.group(2)

        self.template = _PAIR.sub(take, wkt.replace("{", "{{").replace("}", "}}"))
        self.lons = np.array(lons, dtype=np.int64)

    @property
    def vertices(self) -> int:
        return len(self.lons)

    def rotated(self, offset_micro: int) -> str:
        v = (self.lons + offset_micro + 180 * _MICRO) % _TURN - 180 * _MICRO
        return self.template.format(*(_fmt_micro(x) for x in v.tolist()))


def wkt_vertices(wkt: str) -> np.ndarray:
    """The (lon, lat) of every vertex in a WKT text, as an (n, 2) array."""
    return np.array(_PAIR.findall(wkt), dtype=np.float64).reshape(-1, 2)


def _fmt_micro(v: int) -> str:
    a = abs(v)
    return f"{'-' if v < 0 else ''}{a // _MICRO}.{a % _MICRO:06d}"


def rotation_offsets(seed: int, stream: int, index: int, n: int) -> np.ndarray:
    """``n`` distinct non-zero offsets in micro-degrees: even for timed
    passes, odd for warm-up, so the two never share a polygon."""
    half = rng(seed, stream, index).choice(_TURN // 2 - 1, size=n, replace=False) + 1
    return 2 * half.astype(np.int64) - (1 if stream == WARMUP else 0)


def balanced_files(weights: np.ndarray) -> np.ndarray:
    """Greedy longest-first assignment of rows to files by weight, so
    every file carries about the same vertex count. Depends only on the
    weights, so it is the same for every seed."""
    load = np.zeros(FILES)
    out = np.empty(len(weights), dtype=np.int64)
    for r in np.argsort(-weights, kind="stable"):
        f = int(np.argmin(load))
        out[r] = f
        load[f] += weights[r]
    return out


def polygons_table(shapes: list[RotatableWkt], src: np.ndarray, seed: int, stream: int,
                   index: int) -> pa.Table:
    """Row r is ``shapes[src[r]]`` rotated by its own offset: (gid, src, wkt)."""
    offsets = rotation_offsets(seed, stream, index, len(src))
    wkt = [shapes[s].rotated(int(o)) for s, o in zip(src.tolist(), offsets.tolist())]
    gid = np.arange(len(src), dtype=np.int64) + np.int64(index) * len(src)
    return pa.table({"gid": gid, "src": np.asarray(src, dtype=np.int32), "wkt": wkt})


# -- gate tables ----------------------------------------------------------

#: the vocabulary, language mix and near-duplicate rate of the
#: repository's document test corpus
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.43, 0.15, 0.14, 0.14, 0.14)
DUP_P = 0.05
EMBED_DIM = 64
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def documents_table(g: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents of 10-100 words; about 5% copy an earlier document
    and append " dup", so the near-duplicate gates find pairs."""
    texts: list[str] = []
    for d in range(n):
        if d and g.random() < DUP_P:
            texts.append(texts[int(g.integers(d))] + " dup")
        else:
            words = g.integers(0, len(WORDS), int(g.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in words.tolist()))
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": g.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{d % 20}" for d in doc_id.tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(g: np.random.Generator, n: int) -> pa.Table:
    """``n`` unit vectors, uniform on the 63-sphere, as float32 lists."""
    v = g.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM).cast(
        pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb,
                     "label": g.integers(0, 10, n).astype(np.int32)})


def _keys(g: np.random.Generator, n: int) -> np.ndarray:
    # distinct sorted keys from a space 10x the row count: the gates
    # place each row on the sphere by hashing its key, so the keys are
    # what the seed changes
    return np.sort(g.choice(10 * n, n, replace=False)).astype(np.int64)


def customer_table(g: np.random.Generator, n: int) -> pa.Table:
    key = _keys(g, n)
    return pa.table({
        "c_custkey": key,
        "c_name": [f"Customer#{k:09d}" for k in key.tolist()],
        "c_nationkey": g.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": g.choice(SEGMENTS, n).tolist(),
    })


def supplier_table(g: np.random.Generator, n: int) -> pa.Table:
    key = _keys(g, n)
    return pa.table({
        "s_suppkey": key,
        "s_name": [f"Supplier#{k:09d}" for k in key.tolist()],
        "s_nationkey": g.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n), 2),
    })


GATE_TABLES = {"documents": documents_table, "embeddings": embeddings_table,
               "customer": customer_table, "supplier": supplier_table}


def write_gate_tables(path: str, seed: int, stream: int, index: int, sizes: dict) -> str:
    """Write ``<path>/<table>.parquet`` for each gate table, one file
    with one row group each, as the repository's test tables are."""
    os.makedirs(path, exist_ok=True)
    for k, (name, make) in enumerate(GATE_TABLES.items()):
        t = make(np.random.default_rng([seed, stream, index, k]), sizes[name])
        pq.write_table(t, os.path.join(path, f"{name}.parquet"), row_group_size=t.num_rows)
    return path
