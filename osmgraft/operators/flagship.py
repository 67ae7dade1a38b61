"""The flagship query (BASELINE.json metric): geocode -> cell encode
-> broadcast polygon PIP join -> tile assignment.

Equivalent reference invocation (SURVEY.md §3.3):
    osmassignpoly adr.o5m -B=all.poly --use-admin-levels

Plan: parquet scan (url, text; `contains` prefilter pushed) ->
ArrowEvalPython(fused geocode + PIP over `text`) -> Filter(region) ->
Project(cell, codegen int math). Geocode and PIP share ONE Arrow
crossing: the worker tokenizes the text, probes the gazetteer
(pages.first_term) and runs the PIP kernel on the hits against the
broadcast PolygonSet — 2.6x the rows/s of a JVM map-literal geocode
plus a separate PIP stage (4 cores, 300k pages). Zero shuffles.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..fixtures import fixture_polyset, gazetteer_arrays
from ..geo.pip import assign_polygons
from ..pages import first_term, gazetteer_coords, geocode_stage
from .spatial import with_cell


def geocode_assign(pages: DataFrame, polyset=None,
                   keep_noregion: bool = False) -> DataFrame:
    """pages -> pages + (lat_i, lon_i, region, subregion, cell): the
    fused flagship stage, every input column kept (the streaming
    flagship windows on warc_ts). Ungeocoded pages are dropped; so
    are geocoded ones outside every polygon unless keep_noregion."""
    ps = polyset if polyset is not None else fixture_polyset()
    terms, glat, glon, _ = gazetteer_arrays()
    terms = pa.array(terms)
    bc = pages.sparkSession.sparkContext.broadcast(ps)

    @F.arrow_udf("lat_i long, lon_i long, region string, subregion string")
    def _fused(text: pa.Array) -> pa.Array:
        ps = bc.value
        idx = first_term(text, terms)
        hit = idx >= 0
        r = np.full(len(idx), -1, dtype=np.int32)
        s = r.copy()
        r[hit], s[hit] = assign_polygons(glon[idx[hit]], glat[idx[hit]], ps)
        names = pa.array(ps.names, pa.string())
        return pa.StructArray.from_arrays(
            [*gazetteer_coords(idx), names.take(pa.array(r, mask=r < 0)),
             names.take(pa.array(s, mask=s < 0))],
            ["lat_i", "lon_i", "region", "subregion"],
        )

    out = geocode_stage(pages, _fused)
    keep = F.col("lat_i" if keep_noregion else "region").isNotNull()
    return with_cell(out.filter(keep))


def flagship_assign(pages: DataFrame, polyset=None,
                    keep_noregion: bool = False) -> DataFrame:
    """pages(url, text, ...) -> (url, lat_i, lon_i, cell, region,
    subregion). Pages with no geocodable place are dropped (the
    reference drops no-region nodes by default too)."""
    return geocode_assign(pages, polyset, keep_noregion).select(
        "url", "lat_i", "lon_i", "cell", "region", "subregion"
    )


def flagship_resumable(
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    buckets_per_commit: int = 16,
    input_lineage: str = "",
    max_commits: int | None = None,
) -> int:
    """Production shape of the flagship pipeline: bucket the
    assignment output by tile cell and write it through the
    checkpoint manifest (manifest.py) so a killed job resumes from
    the last committed bucket group (north_rule). Returns commit
    groups executed."""
    from ..manifest import run_resumable, with_bucket

    out = flagship_assign(pages)
    bucketed = with_bucket(out, "cell", n_buckets)
    return run_resumable(
        bucketed,
        out_dir,
        n_buckets=n_buckets,
        buckets_per_commit=buckets_per_commit,
        input_lineage=input_lineage,
        max_commits=max_commits,
    )
