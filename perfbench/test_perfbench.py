"""Tests of the benchmark itself: seeded inputs, output checks, metric names.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest

from perfbench import inputs, run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _shapes():
    return [inputs.RotatableWkt(w) for w in workloads._countries()["geog_wkt"]]


def _write_all(seed: int, dest) -> dict:
    """Every kind of input file a run writes, for one seed; path -> bytes."""
    shapes = _shapes()
    src = np.arange(0, len(shapes), 7)
    weights = np.array([shapes[s].vertices for s in src], dtype=float)
    inputs.write_files(inputs.points_table(seed, inputs.TIMED, 0, 1000), str(dest / "pts"),
                       inputs.even_files(1000))
    inputs.write_files(inputs.polygons_table(shapes, src, seed, inputs.TIMED, 0),
                       str(dest / "wkt"), inputs.balanced_files(weights))
    inputs.write_gate_tables(str(dest / "gates"), seed, inputs.TIMED, 0,
                             dict(documents=200, embeddings=50, customer=300, supplier=40))
    out = {}
    for d in sorted(dest.iterdir()):
        for f in sorted(d.iterdir()):
            out[f"{d.name}/{f.name}"] = f.read_bytes()
    return out


def test_same_seed_gives_identical_input_bytes(tmp_path):
    a = _write_all(7, tmp_path / "a")
    b = _write_all(7, tmp_path / "b")
    assert len(a) == 2 * inputs.FILES + len(inputs.GATE_TABLES)
    assert a == b


def test_other_seed_gives_other_inputs(tmp_path):
    a = _write_all(7, tmp_path / "a")
    c = _write_all(8, tmp_path / "c")
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_warmup_and_timed_rotations_never_meet():
    timed = inputs.rotation_offsets(3, inputs.TIMED, 0, 5000)
    warm = inputs.rotation_offsets(3, inputs.WARMUP, 0, 5000)
    assert len(set(timed.tolist())) == 5000
    assert (timed % 2 == 0).all() and (warm % 2 == 1).all()
    assert ((timed > 0) & (timed < 360_000_000)).all()
    assert ((warm > 0) & (warm < 360_000_000)).all()


def test_rotation_is_exact_and_keeps_area():
    from duckdb_geography_spark.geo import geography, ops

    wkts = list(workloads._countries()["geog_wkt"])
    for k in (0, 5, 42):
        shape = inputs.RotatableWkt(wkts[k])
        back = inputs.RotatableWkt(shape.rotated(123_456_789))
        there_and_back = back.rotated(360_000_000 - 123_456_789)
        assert geography.from_wkt(there_and_back).to_wkt() == geography.from_wkt(wkts[k]).to_wkt()
        a0 = ops.area(geography.from_wkt(wkts[k]))
        a1 = ops.area(geography.from_wkt(shape.rotated(123_456_789)))
        assert abs(a1 - a0) <= 1e-12 * a0


def test_balanced_files_spread_the_load():
    w = np.array([shape.vertices for shape in _shapes()], dtype=float)
    f = inputs.balanced_files(w)
    load = np.bincount(f, weights=w, minlength=inputs.FILES)
    assert load.max() <= 1.05 * load.mean()


# -- output checks ----------------------------------------------------------

def test_pip_check_passes_and_catches_corruption():
    expected = {1: frozenset({"A"}), 2: frozenset(), 3: frozenset({"A", "B"})}
    rows = [("A", 2, [1, 3]), ("B", 2, [3, 9])]
    assert workloads.pip_mismatches(rows, expected) == []
    assert workloads.pip_mismatches([("A", 3, [1, 3]), rows[1]], expected)  # count off
    assert workloads.pip_mismatches([("A", 1, [3]), rows[1]], expected)  # match lost
    assert workloads.pip_mismatches(rows + [("C", 1, [2])], expected)  # spurious match


def test_ingest_check_passes_and_catches_corruption():
    ok = dict(n_expected=89, written=89, n_rows=89, n_invalid=0, area=1.0e14,
              area_expected=1.0e14 * (1 + 1e-12))
    assert workloads.ingest_mismatches(**ok) == []
    for bad in (dict(written=88), dict(n_rows=90), dict(n_invalid=1),
                dict(area=1.0e14 * (1 + 1e-8))):
        assert workloads.ingest_mismatches(**(ok | bad))


def test_gate_check_passes_and_catches_corruption():
    import pandas as pd

    want = {"g1": pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 0.25, 1.0], "s": ["a", "b", "c"]}),
            "g2": pd.DataFrame({"k": [7]})}
    # row order and column order do not matter; float noise below 1e-9 does not
    shuffled = want["g1"].iloc[[2, 0, 1]][["v", "s", "k"]].copy()
    shuffled["v"] += 1e-12
    assert workloads.gate_mismatches({"g1": shuffled, "g2": want["g2"]}, want) == []
    corrupt = [
        {"g1": want["g1"].iloc[:2], "g2": want["g2"]},  # a row lost
        {"g1": want["g1"].assign(v=[0.5, 0.25, 1.5]), "g2": want["g2"]},  # a value off
        {"g1": want["g1"].rename(columns={"s": "t"}), "g2": want["g2"]},  # a column renamed
        {"g1": want["g1"]},  # a gate without output
    ]
    for got in corrupt:
        assert workloads.gate_mismatches(got, want)


def test_gate_tables_look_like_the_test_corpus(tmp_path):
    import pyarrow.parquet as pq

    d = inputs.write_gate_tables(str(tmp_path), 3, inputs.TIMED, 0,
                                 dict(documents=400, embeddings=30, customer=100, supplier=10))
    docs = pq.read_table(f"{d}/documents.parquet").to_pandas()
    assert docs["doc_id"].tolist() == list(range(400))
    assert docs["text"].str.split().str.len().between(10, 101).all()
    assert 0 < docs["text"].str.endswith(" dup").sum() < 60  # near-duplicates exist
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pandas()
    v = np.stack(emb["embedding"].to_numpy())
    assert v.shape == (30, inputs.EMBED_DIM) and np.allclose(np.linalg.norm(v, axis=1), 1, atol=1e-6)
    cust = pq.read_table(f"{d}/customer.parquet")["c_custkey"].to_numpy()
    assert len(set(cust.tolist())) == 100 and (np.diff(cust) > 0).all()
    for t in inputs.GATE_TABLES:
        assert pq.ParquetFile(f"{d}/{t}.parquet").metadata.num_row_groups == 1


# -- metric names -------------------------------------------------------------

def test_metric_names_are_well_formed_and_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    for name in list(e2e) + list(layer) + [w["name"] for w in bench["workloads"]]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_every_workload_records_why_and_size(name):
    wl = workloads.WORKLOADS[name]
    assert wl.item and wl.size_note
