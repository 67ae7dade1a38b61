"""Common-Crawl-style pages table: synthesis, text extraction,
geocoding (BASELINE.json input_hint shape).

    pages(url string, warc_ts timestamp, html binary,
          text string, lang string)

`extract_text` is the FROZEN pure function whose per-url
byte-identity is a hard invariant (input_hint). It plays the role of
the reference's deterministic text handling; tests re-extract from
`html` and compare byte-for-byte with the stored `text` column.

Geocoding plays the osmgeobase/osmposition role (SURVEY.md G12):
recognize a gazetteer term in the text and resolve it to fixed-point
coordinates. Implemented as one Arrow kernel (pyarrow.compute split +
`index_in` hash probe against the term list) inside an Arrow UDF —
no per-row Python, no shuffle.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .fixtures import gazetteer_arrays, place_for_doc

_LANGS = ["en", "de", "fr", "ja", "pt"]

_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(rb"\s+")


def extract_text(html: bytes) -> bytes:
    """FROZEN deterministic extractor: strip tags, collapse
    whitespace. Do not change — byte-identity per url is the
    correctness invariant (BASELINE.json input_hint)."""
    no_tags = _TAG_RE.sub(b" ", html)
    return _WS_RE.sub(b" ", no_tags).strip()


def make_html(doc_id: int, place: str | None, lang: str) -> bytes:
    """Deterministic page template embedding the place string."""
    body = f"Document {doc_id} corpus page."
    if place is not None:
        body += f" The office is located near {place} downtown."
    body += f" Contact {doc_id % 97} Alpha Street."
    return (
        f"<html><head><title>Page {doc_id}</title>"
        f'<meta lang="{lang}"/></head>'
        f"<body><h1>Page {doc_id}</h1><p>{body}</p></body></html>"
    ).encode("utf-8")


PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

_BASE_TS = np.datetime64("2024-01-01T00:00:00")


def _pages_pdf(ids: np.ndarray) -> pd.DataFrame:
    terms, _, _, _ = gazetteer_arrays()
    city = place_for_doc(ids)
    rows = {
        "doc_id": ids,
        "url": [f"https://host{i % 23}.example/{i}" for i in ids],
        "warc_ts": _BASE_TS + (ids * 17).astype("timedelta64[s]"),
    }
    htmls = []
    texts = []
    langs = []
    for i, c in zip(ids.tolist(), city.tolist()):
        lang = _LANGS[i % len(_LANGS)]
        h = make_html(i, terms[c] if c >= 0 else None, lang)
        htmls.append(h)
        texts.append(extract_text(h).decode("utf-8"))
        langs.append(lang)
    rows["html"] = htmls
    rows["text"] = texts
    rows["lang"] = langs
    return pd.DataFrame(rows)


def synth_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic pages synthesis via mapInPandas over
    spark.range — scales to any n without driver materialization."""
    rng_df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for b in batches:
            yield _pages_pdf(b["id"].to_numpy("int64"))

    return rng_df.mapInPandas(gen, PAGES_SCHEMA)


# rows per kernel call: the per-call working set (token lists, probe
# results) is what sets Python-worker memory — tokenizing a whole
# 20k-row Arrow batch at once costs +20% worker RSS, 4,096-row slices +6%
_SLICE = 4096


def first_term(text: pa.Array, terms: pa.Array) -> np.ndarray:
    """Arrow tokenize+probe kernel: per row, the index into `terms` of
    the first `" "`-separated token that is a term, -1 when none.

    Exactly `next((t for t in s.split(" ") if t in terms), None)`:
    tokens keep attached punctuation and other whitespace, and the
    empty tokens of repeated spaces probe (and miss) like any other.
    One hash probe per token, mirroring the reference geocoder, which
    tokenizes its input rather than substring-scanning
    (osmposition.c:966-1101)."""
    out = np.full(len(text), -1, dtype=np.int32)
    for lo in range(0, len(text), _SLICE):
        toks = pc.split_pattern(text.slice(lo, _SLICE), " ")
        flat = pc.list_flatten(toks)
        hit = pc.index_in(flat, value_set=terms.cast(flat.type))
        hit = hit.fill_null(-1).to_numpy()
        pos = np.flatnonzero(hit >= 0)
        row = pc.list_parent_indices(toks).to_numpy()[pos]
        first = np.diff(row, prepend=-1) != 0  # rows ascend: 1st hit per row
        out[lo + row[first]] = hit[pos[first]]
    return out


def gazetteer_coords(idx: np.ndarray) -> tuple[pa.Array, pa.Array]:
    """first_term indexes -> (lat_i, lon_i) int64 arrays, null on -1."""
    _, lat_i, lon_i, _ = gazetteer_arrays()
    miss = idx < 0
    return pa.array(lat_i[idx], mask=miss), pa.array(lon_i[idx], mask=miss)


def geocode_stage(pages: DataFrame, udf, text_col: str = "text") -> DataFrame:
    """pages + the fields of a struct-returning Arrow UDF over the text.

    Pages that cannot geocode are dropped first by a substring
    `contains` on the raw text (the gazetteer's longest common prefix,
    if >= 3 chars) — conservative, since every term match implies it,
    and pushed to the parquet scan. The UDF is marked nondeterministic
    so Catalyst never duplicates it into a Filter on its fields (CSE
    does not cross Filter/Project boundaries): it runs once per row."""
    lcp = os.path.commonprefix(gazetteer_arrays()[0])
    if len(lcp) >= 3:
        pages = pages.filter(F.col(text_col).contains(lcp))
    g = udf.asNondeterministic()(F.col(text_col))
    fields = {f: F.col(f"_g.{f}") for f in udf.returnType.fieldNames()}
    return pages.withColumn("_g", g).withColumns(fields).drop("_g")


def geocode(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Resolve each page to fixed-point coords via the gazetteer
    (SURVEY.md G12). Adds lat_i/lon_i (null when no term found); the
    first term token wins (the reference geocoder also ranks and
    takes the top candidate, osmposition.c:1229-1247). One Arrow UDF
    runs `first_term`, the kernel the fused flagship stage
    (operators/flagship.py) also runs."""
    terms = pa.array(gazetteer_arrays()[0])

    @F.arrow_udf("lat_i long, lon_i long")
    def _geocode(text: pa.Array) -> pa.Array:
        lat, lon = gazetteer_coords(first_term(text, terms))
        return pa.StructArray.from_arrays([lat, lon], ["lat_i", "lon_i"])

    return geocode_stage(pages, _geocode, text_col)
