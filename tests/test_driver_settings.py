"""Driver-side settings and memos: the bounded memo dicts of
``__spark_entry__``, the UTC guard of the events_hourly gate, and the
default driver heap of ``session.get_spark``."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as E
from duckdb_geography_spark.session import default_driver_memory


def _full_memo(monkeypatch, name: str) -> dict:
    memo = {("old", i): i for i in range(E._MEMO_MAX)}
    monkeypatch.setattr(E, name, memo)
    return memo


def test_query_vec_memo_evicts_only_the_oldest(monkeypatch, tmp_path):
    pq.write_table(
        pa.table({"vec_id": [0, 1], "embedding": [[1.0, 2.0], [3.0, 4.0]]}),
        tmp_path / "embeddings.parquet",
    )
    memo = _full_memo(monkeypatch, "_QVEC_CACHE")
    assert E._query_vec(str(tmp_path), 1) == [3.0, 4.0]
    assert len(memo) == E._MEMO_MAX
    assert ("old", 0) not in memo
    assert all(("old", i) in memo for i in range(1, E._MEMO_MAX))  # the most recent 63


def test_table_memo_evicts_only_the_oldest(spark, monkeypatch, tmp_path):
    pq.write_table(pa.table({"x": [1, 2]}), tmp_path / "t.parquet")
    memo = _full_memo(monkeypatch, "_T_CACHE")
    df = E._t(spark, str(tmp_path), "t")
    assert df.count() == 2
    assert len(memo) == E._MEMO_MAX
    assert ("old", 0) not in memo
    assert all(("old", i) in memo for i in range(1, E._MEMO_MAX))
    assert E._t(spark, str(tmp_path), "t") is df  # a hit evicts nothing
    assert len(memo) == E._MEMO_MAX


def test_events_hourly_refuses_a_dst_zone(spark, monkeypatch, tmp_path):
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        monkeypatch.setattr(E, "_prep", lambda spark: None)
        with pytest.raises(RuntimeError, match="timeZone=UTC"):
            E._q_events_hourly(spark, str(tmp_path))
        # _prep's pin is what the gate relies on: with it, the guard passes
        monkeypatch.undo()

        class Reached(Exception):
            pass

        def _t(*args):
            raise Reached

        monkeypatch.setattr(E, "_t", _t)
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(Reached):
            E._q_events_hourly(spark, str(tmp_path))
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


@pytest.mark.parametrize(
    "meminfo, heap",
    [
        ("MemTotal:       16113712 kB\nMemFree:  1 kB\n", "9g"),  # 15.4 GiB
        ("MemFree: 1 kB\nMemTotal: 67108864 kB\n", "16g"),  # 64 GiB: capped
        ("MemTotal: 3145728 kB\n", "1g"),  # 3 GiB: 1.8 rounds down
        ("MemTotal: 1048576 kB\n", "1g"),  # 1 GiB: never below 1g
        ("no such line\n", "16g"),
    ],
)
def test_default_driver_memory(meminfo, heap):
    assert default_driver_memory(meminfo) == heap
