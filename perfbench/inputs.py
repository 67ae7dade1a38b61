"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, size, seed) and is cached
on disk under `<cache>/<workload>-<size>-s<seed>/`, with a `_DONE`
marker written last so a killed generation is redone, not reused.
The engine only ever receives the files written here.

- pages:  Common-Crawl-style parquet over the doc-id range
          [off, off + n) with off = (seed % 4096) * n, built from the
          public `pages.make_html` / `extract_text` and
          `fixtures.place_for_doc`, so the planted City00 skew holds
          for every seed. The offset is folded to 4096 slots so the
          planting hash `doc_id * 2654435761` stays inside int64.
- points: pre-geocoded (doc_id, lat_i, lon_i) parquet, ~30% of them in
          the tile cell holding the City00 megacity, the rest uniform
          over the fixture world (lon 10..14, lat 47..51).
- osm:    a synthetic extract (nodes, ways, relations with tags) as row
          dicts, the fixed input of the wire/sources kernel timings.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from osmgraft.fixtures import gazetteer_arrays, place_for_doc
from osmgraft.geo.cells import DEFAULT_SHIFT, LAT_OFFSET, LON_OFFSET
from osmgraft.pages import extract_text, make_html

_LANGS = ["en", "de", "fr", "ja", "pt"]
_BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")


def _cached(root: str, name: str, build) -> str:
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    open(os.path.join(path, "_DONE"), "w").close()
    return path


def page_offset(seed: int, n: int) -> int:
    return (seed % 4096) * n


def pages_frame(ids: np.ndarray) -> pd.DataFrame:
    """doc ids -> pages rows (doc_id, url, warc_ts, html, text, lang)."""
    terms = gazetteer_arrays()[0]
    city = place_for_doc(ids)
    html, text, lang = [], [], []
    for i, c in zip(ids.tolist(), city.tolist()):
        lg = _LANGS[i % len(_LANGS)]
        h = make_html(i, terms[c] if c >= 0 else None, lg)
        html.append(h)
        text.append(extract_text(h).decode("utf-8"))
        lang.append(lg)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "url": [f"https://host{i % 23}.example/{i}" for i in ids],
            "warc_ts": _BASE_TS + (ids * 17).astype("timedelta64[s]"),
            "html": html,
            "text": text,
            "lang": lang,
        }
    )


def pages(root: str, seed: int, n: int, parts: int) -> str:
    """Written from this process, one part at a time, never by Spark's
    Python workers: their memory high-water mark is a metric, and must
    not depend on whether the inputs came from the cache."""
    off = page_offset(seed, n)

    def build(path):
        os.makedirs(os.path.join(path, "data"))
        for k in range(parts):
            ids = np.arange(off + k * n // parts, off + (k + 1) * n // parts,
                            dtype=np.int64)
            pq.write_table(
                pa.Table.from_pandas(pages_frame(ids), preserve_index=False),
                os.path.join(path, "data", f"part-{k:05d}.parquet"),
            )

    return os.path.join(
        _cached(root, f"pages-{n}-s{seed}", build), "data"
    )


def megacity_cell_origin() -> tuple[int, int]:
    """(lat_i, lon_i) of the south-west corner of City00's tile cell."""
    _, lat_i, lon_i, _ = gazetteer_arrays()
    mask = ~((1 << DEFAULT_SHIFT) - 1)
    lat0 = ((int(lat_i[0]) + LAT_OFFSET) & mask) - LAT_OFFSET
    lon0 = ((int(lon_i[0]) + LON_OFFSET) & mask) - LON_OFFSET
    return lat0, lon0


def points_arrays(seed: int, n: int):
    rng = np.random.default_rng([seed, 1])
    lat = rng.integers(470_000_000, 510_000_000, n, dtype=np.int64)
    lon = rng.integers(100_000_000, 140_000_000, n, dtype=np.int64)
    mega = rng.random(n) < 0.3
    lat0, lon0 = megacity_cell_origin()
    k = int(mega.sum())
    side = 1 << DEFAULT_SHIFT
    lat[mega] = lat0 + rng.integers(0, side, k, dtype=np.int64)
    lon[mega] = lon0 + rng.integers(0, side, k, dtype=np.int64)
    return np.arange(n, dtype=np.int64), lat, lon


def points(root: str, seed: int, n: int, parts: int) -> str:
    def build(path):
        ids, lat, lon = points_arrays(seed, n)
        os.makedirs(os.path.join(path, "data"))
        for k in range(parts):
            sl = slice(k * n // parts, (k + 1) * n // parts)
            pq.write_table(
                pa.table(
                    {"doc_id": ids[sl], "lat_i": lat[sl],
                     "lon_i": lon[sl]}
                ),
                os.path.join(path, "data", f"part-{k:05d}.parquet"),
            )

    return os.path.join(
        _cached(root, f"points-{n}-s{seed}", build), "data"
    )


# ------------------------------------------------------------------
# synthetic OSM extract
# ------------------------------------------------------------------

WAY_ID0 = 1_000_000
REL_ID0 = 2_000_000

_NODE_TAGS = [
    {},
    {"amenity": "cafe"},
    {"amenity": "school", "name": "School"},
    {"shop": "bakery"},
    {"amenity": "cafe", "name": "Corner"},
]
_NODE_P = [0.84, 0.05, 0.04, 0.04, 0.03]
_WAY_TAGS = [
    {"highway": "residential"},
    {"highway": "primary", "ref": "B1"},
    {"highway": "track"},
    {"building": "yes"},
    {"highway": "service", "name": "Lane"},
]
_REL_TAGS = [
    {"type": "route", "route": "bus"},
    {"type": "multipolygon", "landuse": "forest"},
    {"type": "boundary", "admin_level": "8"},
]


def osm_rows(seed: int, n_nodes: int, n_ways: int, n_rels: int):
    """-> (nodes, ways, rels) row dicts in the readers' shape, ids
    ascending within each kind, nodes inside the fixture world. Ways
    chain nearby nodes, so ref deltas stay small as in real extracts;
    relations mix way and node members."""
    rng = np.random.default_rng([seed, 2])
    lat = rng.integers(473_000_000, 496_000_000, n_nodes)
    lon = rng.integers(103_000_000, 127_000_000, n_nodes)
    ntag = rng.choice(len(_NODE_TAGS), n_nodes, p=_NODE_P)
    nodes = [
        {"id": i + 1, "lat_i": int(la), "lon_i": int(lo),
         "tags": dict(_NODE_TAGS[t])}
        for i, (la, lo, t) in enumerate(
            zip(lat.tolist(), lon.tolist(), ntag.tolist())
        )
    ]
    # spatial order for ways: neighbouring ranks are nearby nodes
    order = np.lexsort((lat // 2_000_000, lon // 2_000_000)) + 1
    starts = rng.integers(0, n_nodes - 8, n_ways)
    lens = rng.integers(2, 9, n_ways)
    wtag = rng.integers(0, len(_WAY_TAGS), n_ways)
    ways = [
        {"id": WAY_ID0 + w, "refs": order[s : s + ln].tolist(),
         "tags": dict(_WAY_TAGS[t])}
        for w, (s, ln, t) in enumerate(
            zip(starts.tolist(), lens.tolist(), wtag.tolist())
        )
    ]
    rels = []
    for r in range(n_rels):
        members = []
        for _ in range(int(rng.integers(2, 6))):
            if rng.random() < 0.7:
                members.append({"ref": WAY_ID0 + int(rng.integers(0, n_ways)),
                                "mtype": "way", "role": "outer"})
            else:
                members.append({"ref": int(rng.integers(1, n_nodes + 1)),
                                "mtype": "node", "role": ""})
        rels.append(
            {"id": REL_ID0 + r, "members": members,
             "tags": dict(_REL_TAGS[int(rng.integers(0, len(_REL_TAGS)))])}
        )
    return nodes, ways, rels
