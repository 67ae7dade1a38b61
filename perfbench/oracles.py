"""Per-workload oracles that do not share the measured plan.

Each oracle yields an expected *digest* (a flat dict of integers) and `mismatches(expected, got)` lists
every key that differs. The engine-side digest is taken from the
engine's own output; a non-empty mismatch list counts as a failed
operation.

- flagship_pages:   planted places (`fixtures.place_for_doc`) give
  per-city page counts; each of the 80 gazetteer points is assigned
  by the DuckDB crossing predicate of `suite.assign_oracle_sql`.
- points_pip_tiles: the same DuckDB predicate over every point, then
  the per-cell rollup in SQL.
- resumable_commit: manifest audit + exactly-once bucket commits +
  committed rows / xor-hash equal to one `flagship_assign` pass.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import numpy as np

from osmgraft import suite
from osmgraft.fixtures import gazetteer_arrays, place_for_doc
from osmgraft.geo.cells import DEFAULT_SHIFT, LAT_OFFSET, LON_OFFSET

_LON_BITS = ((2 * LON_OFFSET) >> DEFAULT_SHIFT).bit_length()
_CELL_SQL = (
    f"((((lat_i + {LAT_OFFSET}) >> {DEFAULT_SHIFT}) << {_LON_BITS})"
    f" | ((lon_i + {LON_OFFSET}) >> {DEFAULT_SHIFT}))"
)


def _con():
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='1GB'")
    return con


def _with_points(sql: str, source: str) -> str:
    """Point the repo's oracle SQL at our table instead of the suite's
    `documents` view."""
    if suite._PTS_CTE not in sql:
        raise ValueError("oracle SQL no longer reads the suite's pts CTE")
    return sql.replace(
        suite._PTS_CTE,
        f"pts AS (SELECT doc_id, lat_i, lon_i FROM {source})",
    )


def mismatches(expected: dict, got: dict) -> list[str]:
    keys = sorted(set(expected) | set(got))
    return [
        f"{k}: expected {expected.get(k)!r}, got {got.get(k)!r}"
        for k in keys
        if expected.get(k) != got.get(k)
    ]


# ------------------------------------------------------------------
# flagship_pages
# ------------------------------------------------------------------


def city_regions() -> dict[int, tuple[str, str | None]]:
    """city index -> (region, subregion) for every gazetteer point
    inside some polygon, via DuckDB."""
    _, lat_i, lon_i, _ = gazetteer_arrays()
    con = _con()
    con.execute("CREATE TABLE cities(doc_id BIGINT, lat_i BIGINT, "
                "lon_i BIGINT)")
    con.executemany(
        "INSERT INTO cities VALUES (?, ?, ?)",
        [(k, la, lo) for k, (la, lo)
         in enumerate(zip(lat_i.tolist(), lon_i.tolist()))],
    )
    rows = con.execute(
        _with_points(suite.assign_oracle_sql(), "cities")
    ).fetchall()
    con.close()
    return {int(d): (r, s) for d, r, s in rows if r is not None}


def pair_key(region, subregion) -> str:
    return f"pair:{region}|{subregion or ''}"


def flagship_digest_exprs(pairs):
    """Engine-side aggregate expressions over flagship output columns
    (url, lat_i, lon_i, cell, region, subregion)."""
    from pyspark.sql import functions as F

    out = [
        F.count(F.lit(1)).alias("rows"),
        F.sum("lat_i").alias("sum_lat"),
        F.sum("lon_i").alias("sum_lon"),
        F.sum("cell").alias("sum_cell"),
    ]
    for r, s in pairs:
        cond = F.col("region").eqNullSafe(F.lit(r)) & F.coalesce(
            F.col("subregion"), F.lit("")
        ).eqNullSafe(F.lit(s or ""))
        out.append(F.count_if(cond).alias(pair_key(r, s)))
    return out


def flagship_expected(off: int, n: int) -> dict:
    regions = city_regions()
    per_city = np.bincount(
        place_for_doc(np.arange(off, off + n)) + 1, minlength=81
    )[1:]
    _, lat_i, lon_i, _ = gazetteer_arrays()
    lat_b = (lat_i + LAT_OFFSET) >> DEFAULT_SHIFT
    lon_b = (lon_i + LON_OFFSET) >> DEFAULT_SHIFT
    cell = (lat_b << _LON_BITS) | lon_b
    exp = Counter()
    for c, (r, s) in regions.items():
        k = int(per_city[c])
        exp["rows"] += k
        exp["sum_lat"] += k * int(lat_i[c])
        exp["sum_lon"] += k * int(lon_i[c])
        exp["sum_cell"] += k * int(cell[c])
        exp[pair_key(r, s)] += k
    return dict(exp)


def flagship_pairs() -> list:
    return sorted(set(city_regions().values()), key=str)


# ------------------------------------------------------------------
# points_pip_tiles
# ------------------------------------------------------------------


def tiles_digest_exprs():
    """Engine-side aggregates over tile_rollup output
    (cell, n_docs, min_doc, max_doc)."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("cells"),
        F.sum("n_docs").alias("docs"),
        F.sum(F.col("n_docs") * F.col("n_docs")).alias("docs_sq"),
        F.sum("min_doc").alias("sum_min"),
        F.sum("max_doc").alias("sum_max"),
        F.sum("cell").alias("sum_cell"),
        F.sum(F.col("cell") * F.col("n_docs")).alias("sum_cell_docs"),
    ]


def tiles_expected(parquet_dir: str) -> dict:
    con = _con()
    con.execute(
        "CREATE VIEW bench_pts AS SELECT * FROM "
        f"read_parquet('{parquet_dir}/*.parquet')"
    )
    assigned = _with_points(suite.assign_oracle_sql(), "bench_pts")
    row = con.execute(
        f"""
WITH a AS ({assigned}),
t AS (
  SELECT {_CELL_SQL} AS cell, count(*) AS n_docs,
         min(p.doc_id) AS min_doc, max(p.doc_id) AS max_doc
  FROM bench_pts p JOIN a ON a.doc_id = p.doc_id
  WHERE a.region IS NOT NULL
  GROUP BY 1
)
SELECT count(*), sum(n_docs), sum(n_docs * n_docs), sum(min_doc),
       sum(max_doc), sum(cell), sum(cell * n_docs)
FROM t"""
    ).fetchone()
    con.close()
    keys = ["cells", "docs", "docs_sq", "sum_min", "sum_max",
            "sum_cell", "sum_cell_docs"]
    return {k: int(v or 0) for k, v in zip(keys, row)}


# ------------------------------------------------------------------
# resumable_commit
# ------------------------------------------------------------------


def commit_mismatches(
    n_buckets: int, manifest_rows: list, audit_rows: int,
    committed_rows: int, reference: dict,
) -> list[str]:
    """manifest_rows: (bucket, n_rows, value_hash) per manifest row;
    audit_rows: rows of `verify_manifest` (must be 0);
    committed_rows: rows read back through `read_committed`;
    reference: {"rows", "xor"} of one flagship_assign pass."""
    bad = []
    if audit_rows:
        bad.append(f"verify_manifest: {audit_rows} inconsistent buckets")
    seen = Counter(b for b, _, _ in manifest_rows)
    missing = sorted(set(range(n_buckets)) - set(seen))
    twice = sorted(b for b, c in seen.items() if c != 1)
    if missing:
        bad.append(f"buckets never committed: {missing}")
    if twice:
        bad.append(f"buckets committed more than once: {twice}")
    got = {"rows": sum(r for _, r, _ in manifest_rows), "xor": 0}
    for _, _, h in manifest_rows:
        got["xor"] ^= int(h)
    got["read_back"] = committed_rows
    exp = dict(reference, read_back=reference["rows"])
    return bad + mismatches(exp, got)
