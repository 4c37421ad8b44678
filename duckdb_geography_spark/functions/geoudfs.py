"""Shared helpers for geography pandas UDFs.

All geography functions move data JVM->Python as Arrow batches of our
binary encoding (SURVEY.md S4.2 #9: the vectorized-execution port).
Decoding to :class:`Geography` objects is the per-row cost; an
executor-local LRU keyed by the encoded bytes amortizes repeated
values — exactly the win the reference gets from ``s2_prepare`` +
prepared-index dispatch (src/s2_functions_io.cpp:321-386,
src/s2_binary_index_ops.cpp:26-50), and what makes the broadcast side
of a spatial join cheap here.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Callable, Optional

import numpy as np
import pandas as pd

from ..geo.geography import Geography


class ByteBudgetLRU:
    """LRU keyed by encoded bytes, evicted by an accumulated BYTE
    budget instead of an entry count.

    A count-bounded cache (the previous ``lru_cache(maxsize=4096)``)
    admits 4096 arbitrarily large prepared polygon indexes — GBs of
    worker heap on a broadcast join against a big dimension side. Here
    every entry is charged ``cost_fn(buf)`` bytes (a conservative
    multiple of the encoded size — decoded Geographies hold numpy
    vertex arrays plus, for PREPARED values, the probe index) and the
    total is capped; one giant geography can never be joined by 4095
    friends. Budget: ``SPARK_GRAFT_GEOG_CACHE_MB`` (default 256 MiB
    per worker process, split across the decode and parts caches).
    """

    def __init__(
        self,
        budget_bytes: int,
        cost_fn: Callable[[bytes], int],
        load: Optional[Callable[[bytes], object]] = None,
        charge_value: bool = False,
    ):
        self.budget = int(budget_bytes)
        self.cost_fn = cost_fn
        self.load = load
        # charge_value=True: cost_fn is applied to the LOADED VALUE
        # instead of the key — for caches whose key (e.g. a cell-id
        # tuple) says nothing about the value's size (the dissolved
        # border polygon it decodes to).
        self.charge_value = charge_value
        self._d: OrderedDict = OrderedDict()
        self._cost: dict = {}
        # the driver-side cache (dim_coverings) may be used by several
        # query-building threads at once
        self._lock = threading.Lock()
        self.total = 0
        self.hits = 0
        self.misses = 0

    def __call__(self, buf: bytes):
        val = self.get(buf)
        if val is None:
            val = self.load(buf)
            self.put(buf, val)
        return val

    def get(self, key):
        """The cached value (refreshed), or None on a miss."""
        with self._lock:
            val = self._d.get(key)
            if val is None:
                self.misses += 1
                return None
            self.hits += 1
            self._d.move_to_end(key)
            return val

    def put(self, key, val) -> None:
        cost = self.cost_fn(val if self.charge_value else key)
        with self._lock:
            d = self._d
            if cost > self.budget or key in d:  # oversized values are not cached
                return
            d[key] = val
            self._cost[key] = cost
            self.total += cost
            while self.total > self.budget and d:
                old, _ = d.popitem(last=False)
                self.total -= self._cost.pop(old)

    def discard(self, key) -> None:
        with self._lock:
            if self._d.pop(key, None) is not None:
                self.total -= self._cost.pop(key)

    def cache_clear(self) -> None:
        with self._lock:
            self._d.clear()
            self._cost.clear()
            self.total = 0
            self.hits = self.misses = 0

    def __len__(self) -> int:
        return len(self._d)

    # a pandas UDF pickled by value carries the caches its body names
    # (casts._cell_union_geog_bytes); the lock does not pickle
    def __getstate__(self):
        state = self.__dict__.copy()
        del state["_lock"]
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()


_CACHE_BUDGET = int(os.environ.get("SPARK_GRAFT_GEOG_CACHE_MB", "256")) * (1 << 20)

# Decoded Geography ≈ encoded size in numpy arrays (+object overhead);
# PREPARED payloads additionally materialize the probe index, already
# part of the encoded bytes — 4x encoded + 1 KiB is a deliberate
# over-charge so the budget errs toward early eviction.
_WARNED_FLOAT_COERCION = False

decode_cached = ByteBudgetLRU(
    _CACHE_BUDGET // 2, lambda b: 4 * len(b) + 1024, Geography.decode
)


def _load_parts(buf: bytes):
    from ..geo.ops import _Parts

    return _Parts(decode_cached(buf))


# _Parts builds per-shape edge/ring structures on top of the decoded
# Geography — charge a heavier multiple.
parts_cached = ByteBudgetLRU(
    _CACHE_BUDGET // 2, lambda b: 8 * len(b) + 2048, _load_parts
)


#: Fixed-level coverings of broadcast dimension rows, held by the DRIVER
#: for the whole application (joins.covering_join's broadcast path):
#: keyed by ``(level, BLAKE2b-160 digest of the geography value)``, so
#: an entry holds no blob, and charged by the covering's size. A
#: dimension shared by many queries is covered once.
dim_coverings = ByteBudgetLRU(
    _CACHE_BUDGET, lambda cells: cells.nbytes + 256, charge_value=True
)


def float_series(values) -> pd.Series:
    """Double Series that PRESERVES NaN through Arrow.

    A plain float64 pandas Series turns NaN into SQL NULL at the
    Arrow boundary (nan_as_null); the reference's contract needs real
    NaN (e.g. s2_x of a non-point, accessors.test:104-112). Backing
    the Series with an Arrow array keeps NaN as NaN while None stays
    NULL.
    """
    import pyarrow as pa

    arr = pa.array(list(values), type=pa.float64(), from_pandas=False)
    return pd.Series(pd.arrays.ArrowExtensionArray(arr))


def tag_is_empty(s: pd.Series):
    """Per-row empty flag; NULL in -> NULL out (object array so the
    Nones survive — a bool dtype would coerce them to True)."""
    return np.array(
        [bool(b[1] & 1) if b is not None else None for b in s], dtype=object
    )


def _signed64(i: int) -> int:
    i &= (1 << 64) - 1
    return i - (1 << 64) if i >= (1 << 63) else i


def _cell_id_from_number(v) -> int:
    """Validate + convert a numeric cell id arriving through the
    Arrow float path. Nullable LongType columns reach pandas UDFs as
    float64; float64 is only exact for cell ids whose significant
    bits fit the 53-bit mantissa (coarse cells do, leaf cells do
    not) — refuse anything lossy or non-integral instead of quietly
    coercing a DOUBLE column or truncating a leaf id. SQL DECIMAL
    literals arrive as decimal.Decimal (exact): integral values
    coerce, fractional ones refuse."""
    import decimal

    if isinstance(v, (int, np.integer)):
        return _signed64(int(v))
    if isinstance(v, decimal.Decimal):
        i = int(v)
        if v != i:
            raise ValueError(
                "implicit S2_CELL->GEOGRAPHY coercion got non-integral "
                f"value {v!r}; geography functions take GEOGRAPHY binary "
                "or S2_CELL longs — cast explicitly if a cell was meant"
            )
        return _signed64(i)
    f = float(v)
    i = int(f)
    if f != i or float(np.int64(_signed64(i))) != f:
        raise ValueError(
            "implicit S2_CELL->GEOGRAPHY coercion got non-integral or "
            f"float64-lossy value {v!r}; cast explicitly with "
            "s2_cell_to_geography (and avoid NULLs in the cell column — "
            "Spark ships nullable longs to Python as float64)"
        )
    return _signed64(i)


def coerce_geog(s: pd.Series) -> pd.Series:
    """DuckDB cost-0 implicit-cast parity (src/s2_cell_ops.cpp:
    1033-1051 registers CELL / CELL_CENTER / CELL_UNION -> GEOGRAPHY
    at cast cost 0, so ``s2_area(cell)`` just works): every
    geography-taking pandas UDF routes its input through here first.

    - BINARY (bytes) input: returned untouched — the common path is
      a dtype sniff plus one element check, no per-row work.
    - LongType input (int64, or float64 via Arrow's nullable-long
      path): coerced as S2_CELL -> 4-vertex cell polygon, the exact
      kernel of :func:`~.casts.s2_cell_to_geography` (invalid ids ->
      POLYGON EMPTY). S2_CELL and S2_CELL_CENTER share LongType on
      this engine, so a bare long always coerces with CELL (polygon)
      semantics; use ``s2_cell_center_to_geography`` for the snapped
      point form.
    - ArrayType(LongType) input: coerced as S2_CELL_UNION ->
      dissolved border polygon, the exact kernel of
      :func:`~.casts.s2_cell_union_to_geography`.
    """
    import decimal

    if s.dtype == object:
        first = next((v for v in s if v is not None), None)
        if first is None or isinstance(first, (bytes, bytearray, memoryview)):
            return s
        if isinstance(first, (int, np.integer, decimal.Decimal)):
            # DECIMAL/odd-integer object columns (SQL literals arrive
            # as decimal.Decimal): same S2_CELL coercion, exact math
            from .casts import _cell_geog_bytes

            return pd.Series(
                [
                    None if v is None else _cell_geog_bytes(_cell_id_from_number(v))
                    for v in s
                ],
                dtype=object,
            )
        if isinstance(first, (np.ndarray, list, tuple)):
            from .casts import _cell_union_geog_bytes

            return pd.Series(
                [
                    None
                    if arr is None
                    else _cell_union_geog_bytes(
                        tuple(_cell_id_from_number(v) for v in arr)
                    )
                    for arr in s
                ],
                dtype=object,
            )
        return s  # let the caller's bytes() raise its usual error
    if s.dtype.kind in "iuf":
        from ..s2 import cellmath as cm
        from .casts import _cell_geog_bytes

        # float64 source = Arrow's nullable-long path. A leaf-level id
        # does not fit the 53-bit mantissa; it rounds to a NEARBY
        # integer that is itself float-exact, so lossiness cannot be
        # detected by round-tripping. The rounded value is almost
        # never a VALID cell id (validity pins the exact trailing
        # 10..0 bit pattern), so on the float path an invalid id —
        # other than the 0 / -1 sentinels — is treated as evidence of
        # truncation and refused instead of quietly becoming
        # POLYGON EMPTY.
        is_float_src = s.dtype.kind == "f"
        if is_float_src:
            # Warn ONCE per worker: float64 here is usually Arrow's
            # nullable-long path (benign), but a genuine DoubleType
            # column whose values happen to be valid cell ids (3.0)
            # would coerce silently — make that observable.
            global _WARNED_FLOAT_COERCION
            if not _WARNED_FLOAT_COERCION:
                _WARNED_FLOAT_COERCION = True
                import warnings

                warnings.warn(
                    "implicit S2_CELL->GEOGRAPHY coercion from a float64 "
                    "batch (nullable-long Arrow path, or a true DOUBLE "
                    "column). Integral float values that are valid cell "
                    "ids coerce as cells; cast explicitly with "
                    "s2_cell_to_geography to silence this.",
                    UserWarning,
                    stacklevel=2,
                )
        out = []
        for v in s:
            if v is None or (isinstance(v, float) and v != v):  # NaN = NULL long
                out.append(None)
                continue
            i = _cell_id_from_number(v)
            if is_float_src and i not in (0, -1):
                cid = np.uint64(np.int64(i))
                if not cm.is_valid(np.array([cid]))[0]:
                    raise ValueError(
                        "implicit S2_CELL->GEOGRAPHY coercion: value "
                        f"{v!r} arrived via Arrow's nullable-long "
                        "float64 path and is not a valid cell id — "
                        "likely a leaf-level id truncated by the "
                        "53-bit mantissa. Avoid NULLs in the cell "
                        "column or cast explicitly with "
                        "s2_cell_to_geography."
                    )
            out.append(_cell_geog_bytes(i))
        return pd.Series(out, dtype=object)
    return s


def tag_covering(buf: Optional[bytes]) -> np.ndarray:
    """Covering cell ids from the fixed prefix (no geometry decode)."""
    if buf is None:
        return np.empty(0, dtype=np.uint64)
    ncov = int.from_bytes(buf[2:4], "little")
    return np.frombuffer(buf, dtype="<u8", count=ncov, offset=4).astype(np.uint64)
