"""The benchmark's oracles accept the engine's output and catch a
corrupted one.

    python3 -m pytest perfbench/test_oracles.py -q
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from perfbench import inputs, oracles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = ROOT
    from osmgraft.session import get_spark

    s = get_spark("perfbench-tests", cores=2, shuffle_partitions=4,
                  extra={"spark.driver.memory": "1g",
                         "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_flagship_oracle_accepts_engine_and_catches_corruption(spark):
    from pyspark.sql import functions as F

    from osmgraft.operators.flagship import flagship_assign
    from perfbench.workloads import _observed

    n, off = 3000, inputs.page_offset(7, 3000)
    pages = spark.createDataFrame(
        inputs.pages_frame(np.arange(off, off + n, dtype=np.int64)))
    out = flagship_assign(pages).cache()
    exprs = oracles.flagship_digest_exprs(oracles.flagship_pairs())
    expected = oracles.flagship_expected(off, n)
    assert expected["rows"] > n // 2
    assert oracles.mismatches(expected, _observed(out, exprs)) == []

    victim = out.first().url
    moved = out.withColumn(
        "subregion",
        F.when(F.col("url") == victim, F.lit("Overia6"))
        .otherwise(F.col("subregion")),
    )
    dropped = out.filter(F.col("url") != victim)
    for bad in (moved, dropped):
        assert oracles.mismatches(expected, _observed(bad, exprs))


def test_tiles_oracle_accepts_engine_and_catches_corruption(spark, tmp_path):
    from pyspark.sql import functions as F

    from osmgraft.fixtures import fixture_polyset
    from osmgraft.operators.spatial import assign_regions, with_cell
    from osmgraft.operators.tiles import tile_rollup
    from perfbench.workloads import _observed

    path = inputs.points(str(tmp_path), seed=3, n=20_000, parts=2)
    pts = spark.read.parquet(path)
    tiles = tile_rollup(with_cell(assign_regions(pts, fixture_polyset())))
    expected = oracles.tiles_expected(path)
    exprs = oracles.tiles_digest_exprs()
    assert oracles.mismatches(expected, _observed(tiles, exprs)) == []
    top = tiles.agg(F.max("n_docs")).first()[0]
    off_by_one = tiles.withColumn(
        "n_docs",
        F.when(F.col("n_docs") == top, F.col("n_docs") - 1)
        .otherwise(F.col("n_docs")),
    )
    assert oracles.mismatches(expected, _observed(off_by_one, exprs))


def test_megacity_holds_a_third_of_points_in_one_cell():
    from osmgraft.geo.cells import cell_encode

    _, lat, lon = inputs.points_arrays(5, 100_000)
    cells, counts = np.unique(cell_encode(lat, lon), return_counts=True)
    assert 0.28 < counts.max() / len(lat) < 0.32


def test_commit_oracle_catches_each_fault():
    ref = {"rows": 10, "xor": 5 ^ 9}
    good = [(0, 4, 5), (1, 6, 9)]
    assert oracles.commit_mismatches(2, good, 0, 10, ref) == []
    faults = [
        (good, 1, 10),                       # audit found a bad bucket
        (good[:1], 0, 10),                   # bucket never committed
        (good + [(1, 6, 9)], 0, 10),         # bucket committed twice
        ([(0, 4, 5), (1, 6, 8)], 0, 10),     # content hash differs
        (good, 0, 9),                        # read-back lost a row
    ]
    for rows, audit, read_back in faults:
        assert oracles.commit_mismatches(2, rows, audit, read_back, ref)
