"""Byte-for-byte pin of the encode-time kernels over the bundled data.

Every GEOGRAPHY blob carries its adaptive S2 covering, and the bounds
rect and the fixed-level coverings feed the covering joins, so a speed
change to the coverer or to ``bounds_rect`` must leave every byte as it
was. Each section below hashes one kernel's output over the bundled
countries and cities (plus seeded longitude shifts of a few countries
that stress the antimeridian, a pole and a hole) into a SHA-256; the
pinned values were computed before the coverer was batched.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

from duckdb_geography_spark.functions import data
from duckdb_geography_spark.geo import geography, ops
from duckdb_geography_spark.s2.coverer import covering_of_geography

PINNED = {
    "countries.encode": "4c0fb8ad462c6c7acf17f0d9cdad4f1372abb8251b058070c2bb29d7f2f09495",
    "countries.bounds_rect": "2388e1de4039a955eeb5a9143dac6192b395fcf86149d923917f3b329ea8fe69",
    "cities.encode": "d474790f7bd4d9beefbad57f0cadc9a5cc2fce290bdcef282084a9f8c3ed009b",
    "cities.bounds_rect": "cdb6017f01d8e3b1be3cb66843900d4072ed720b541253ad16fb3d43059ddb53",
    "countries.level5": "2e6285ebca9b20f3850f8dd7826164306cd14cbce91ae0cae01965e93e57cb44",
    "countries.level8": "99faab1acd58ffc60df93f8fd2aef125dd83f9cacac9835d6d26ec34af4e616f",
    "shifted.encode": "ceecc6e77e585629bafbe5e2f84ad9b11fdc82638ea275f194a8f60e2c592fd9",
    "shifted.bounds_rect": "c2d143bdadc9859f83627ccbd356b451c1a40919d4318f6d2809f1daed710533",
    "shifted.level5": "4af8c0f84684a3333a3571921a9fd55162da4d6714af2ae01da25574c9662b77",
}

#: countries the shifted section always includes: the antimeridian, a
#: pole, the largest, and a polygon with a hole (Lesotho)
SHIFTED_FIXED = ("Fiji", "Antarctica", "Russia", "South Africa")
SHIFTED_RANDOM = 8
SHIFT_SEED = 20261020
#: countries covered at level 8 besides Fiji: those under this many vertices
LEVEL8_MAX_VERTICES = 200

_PAIR = re.compile(r"(-?\d+(?:\.\d+)?) (-?\d+(?:\.\d+)?)")
_MICRO = 1_000_000


def shift_wkt(wkt: str, offset_micro: int) -> str:
    """``wkt`` rotated about the polar axis by a whole number of
    micro-degrees; bundled longitudes have at most 6 decimals, so the
    shift is exact and latitudes keep their text."""

    def move(m: re.Match) -> str:
        lon = round(float(m.group(1)) * _MICRO) + offset_micro
        lon = (lon + 180 * _MICRO) % (360 * _MICRO) - 180 * _MICRO
        a = abs(lon)
        return f"{'-' if lon < 0 else ''}{a // _MICRO}.{a % _MICRO:06d} {m.group(2)}"

    return _PAIR.sub(move, wkt)


def _vertices(g) -> int:
    return len(g.all_points()) + sum(len(r) for rings in g.all_polygons() for r in rings)


def _hash(chunks) -> str:
    h = hashlib.sha256()
    for c in chunks:
        h.update(len(c).to_bytes(8, "little"))
        h.update(c)
    return h.hexdigest()


def _encode(wkts):
    return _hash(geography.from_wkt(w).encode() for w in wkts)


def _rects(wkts):
    return _hash(repr(ops.bounds_rect(geography.from_wkt(w))).encode() for w in wkts)


def _fixed(wkts, level):
    return _hash(
        covering_of_geography(geography.from_wkt(w), fixed_level=level).astype("<u8").tobytes()
        for w in wkts
    )


def shifted_wkts() -> list:
    countries = data._countries_pdf()
    names = list(countries["name"])
    rng = np.random.default_rng(SHIFT_SEED)
    rest = [n for n in names if n not in SHIFTED_FIXED]
    pick = list(SHIFTED_FIXED) + list(rng.choice(rest, SHIFTED_RANDOM, replace=False))
    offsets = rng.integers(1, 360 * _MICRO, size=len(pick))
    by_name = dict(zip(names, countries["geog_wkt"]))
    return [shift_wkt(by_name[n], int(o)) for n, o in zip(pick, offsets)]


def section_digests() -> dict:
    countries = data._countries_pdf()
    cwkt = list(countries["geog_wkt"])
    city = list(data._cities_pdf()["geog_wkt"])
    level8 = [
        w
        for n, w in zip(countries["name"], cwkt)
        if n == "Fiji" or _vertices(geography.from_wkt(w)) < LEVEL8_MAX_VERTICES
    ]
    shifted = shifted_wkts()
    return {
        "countries.encode": _encode(cwkt),
        "countries.bounds_rect": _rects(cwkt),
        "cities.encode": _encode(city),
        "cities.bounds_rect": _rects(city),
        "countries.level5": _fixed(cwkt, 5),
        "countries.level8": _fixed(level8, 8),
        "shifted.encode": _encode(shifted),
        "shifted.bounds_rect": _rects(shifted),
        "shifted.level5": _fixed(shifted, 5),
    }


def test_shifted_set_has_the_edge_cases():
    shifted = [geography.from_wkt(w) for w in shifted_wkts()]
    assert len(shifted) == len(SHIFTED_FIXED) + SHIFTED_RANDOM
    assert any(len(rings) > 1 for g in shifted for rings in g.all_polygons())
    rects = [ops.bounds_rect(g) for g in shifted]
    assert any(r[1] == -90.0 for r in rects)  # Antarctica keeps its pole


def test_encoding_digest():
    got = section_digests()
    assert got == PINNED, {k: v for k, v in got.items() if PINNED[k] != v}


if __name__ == "__main__":
    for k, v in section_digests().items():
        print(f'    "{k}": "{v}",')
