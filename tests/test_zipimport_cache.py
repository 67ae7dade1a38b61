"""The engine's zipimport cache backport (osmgraft/_pyworker.py).

On Python < 3.12 every `importlib.invalidate_caches()` made each
zipimporter re-read its archive's central directory (CPython
gh-103200); PySpark calls it at the start of every task. Importing
osmgraft installs a wrapper that re-reads an archive only when its
(mtime, size) stamp changed. Python 3.12+ has the fix itself.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import osmgraft  # noqa: F401  (installs the wrapper)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="fixed in CPython 3.12"
)


def _write_pkg(path, value, padding=""):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zc_pkg/__init__.py", f"VALUE = {value!r}{padding}\n")


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip package on sys.path, imported once, plus a log of every
    central-directory read of its archive."""
    archive = str(tmp_path / "pkg.zip")
    _write_pkg(archive, 1)
    monkeypatch.syspath_prepend(archive)
    sys.modules.pop("zc_pkg", None)
    import zc_pkg

    assert zc_pkg.VALUE == 1
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # first reload records the stamp
    reads.clear()
    yield archive, reads
    sys.modules.pop("zc_pkg", None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_pkg):
    _, reads = zip_pkg
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reloaded(zip_pkg):
    archive, reads = zip_pkg
    _write_pkg(archive, 2, padding="  # grown")
    importlib.invalidate_caches()
    assert len(reads) == 1
    sys.modules.pop("zc_pkg")
    import zc_pkg

    assert zc_pkg.VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_missing_archive_is_dropped(zip_pkg):
    archive, _ = zip_pkg
    os.remove(archive)
    importlib.invalidate_caches()
    sys.modules.pop("zc_pkg")
    with pytest.raises(ImportError):
        import zc_pkg  # noqa: F401


def test_reused_worker_skips_zip_rereads(spark):
    """An engine Arrow UDF's unpickling imports osmgraft, so on the
    next task a reused worker sets up (and calls invalidate_caches)
    through the wrapper and re-reads no pyspark.zip directory."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from osmgraft.pages import first_term

    terms = pa.array(["City05"])

    @F.arrow_udf("pid long, hit int, wrapped boolean, zips int, "
                 "stamped int, reads int")
    def probe(text: pa.Array) -> pa.Array:
        hit = first_term(text, terms)
        zips = [i for i in sys.path_importer_cache.values()
                if isinstance(i, zipimport.zipimporter)]
        real, reads = zipimport._read_directory, []
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        cols = [
            [os.getpid()], [int(hit[0])],
            [zipimport.zipimporter.invalidate_caches.__module__
             == "osmgraft._pyworker"],
            [len(zips)], [sum(hasattr(i, "_dir_stamp") for i in zips)],
            [len(reads)],
        ]
        return pa.StructArray.from_arrays(
            [pa.array(c * len(text)) for c in cols],
            ["pid", "hit", "wrapped", "zips", "stamped", "reads"],
        )

    df = spark.createDataFrame([("City05 x",)], "text string").coalesce(1)
    seen = {}
    for _ in range(12):
        [row] = df.select(probe("text").alias("p")).collect()
        r = row.p
        assert r.hit == 0
        if r.pid in seen:
            break
        seen[r.pid] = r
    else:
        pytest.fail("no Python worker was reused across 12 tasks")
    if not r.zips:
        pytest.skip("the workers import pyspark from a directory")
    assert r.wrapped
    assert r.stamped > 0
    assert r.reads == 0
