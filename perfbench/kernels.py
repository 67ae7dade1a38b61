"""Direct kernel timings on fixed seeded inputs, with no Spark involved,
so a kernel change shows before job overhead dilutes it.

- geo.pip.kernel_mpts_per_s:     `assign_polygons` vs the fixture
                                 polygons, million points per second
- wire.o5m.kernel_mobj_per_s:    `encode_o5m` on fixed OSM rows,
                                 million objects per second
- sources.pbf.kernel_mobj_per_s: `parse_pbf` of the same rows' .pbf
"""

from __future__ import annotations

import statistics
import time

from osmgraft.fixtures import fixture_polyset
from osmgraft.geo.pip import assign_polygons
from osmgraft.sources.pbf import parse_pbf
from osmgraft.wire.o5m import encode_o5m
from osmgraft.wire.pbf import encode_pbf

from . import inputs

_SEED = 12345
_N_POINTS = 500_000
_OSM = (20_000, 2_000, 100)


def _rate(fn, units: int, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return units / statistics.median(times) / 1e6


def kernel_rates() -> dict[str, float]:
    _, lat, lon = inputs.points_arrays(_SEED, _N_POINTS)
    ps = fixture_polyset()
    rows = inputs.osm_rows(_SEED, *_OSM)
    n_obj = sum(len(r) for r in rows)
    pbf = encode_pbf(*rows)
    return {
        "geo.pip.kernel_mpts_per_s": _rate(
            lambda: assign_polygons(lon, lat, ps), _N_POINTS),
        "wire.o5m.kernel_mobj_per_s": _rate(
            lambda: encode_o5m(*rows), n_obj),
        "sources.pbf.kernel_mobj_per_s": _rate(
            lambda: parse_pbf(pbf), n_obj),
    }
