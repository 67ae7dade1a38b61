"""The benchmark workloads. Each one generates its seeded inputs, builds its
oracle expectation, runs one operation at a time (closed loop, one
client) and, for the traced run, forces cumulative layer prefixes.

An operation returns a `finish()` callable, run after the timed
window, that lists the oracle's mismatches, so output checks never
fall inside the measured time.
"""

from __future__ import annotations

import os
import shutil
import statistics

from pyspark.sql import Observation, functions as F

from osmgraft.fixtures import fixture_polyset
from osmgraft.operators.flagship import flagship_assign, flagship_resumable
from osmgraft.operators.spatial import assign_regions, with_cell
from osmgraft.operators.tiles import tile_rollup
from osmgraft.pages import geocode

from . import inputs, oracles
from .trace import sub


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observed(df, exprs):
    obs = Observation()
    noop(df.observe(obs, *exprs))
    return {k: int(v or 0) for k, v in obs.get.items()}


class Workload:
    name = ""
    rows = 0  # input rows one operation processes

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def setup(self) -> None:
        """Generate or load the inputs (counted in setup_s)."""

    def expect(self) -> None:
        """Build the oracle's expectation (not counted anywhere)."""

    def op(self):
        raise NotImplementedError

    def trace(self, tr):
        """-> (per-layer counters, extra metrics, oracle mismatches)"""
        raise NotImplementedError


def _prefixes(tr, chain, reps: int) -> dict[str, dict]:
    """Force each prefix `reps` times under its span; keep the counters
    of the median-duration repetition."""
    out = {}
    for name, build in chain:
        runs = []
        for _ in range(reps):
            with tr.span(name) as rec:
                noop(build())
            runs.append(rec["counters"])
        runs.sort(key=lambda c: c["self_s"])
        out[name] = runs[len(runs) // 2]
    return out


def _layers(prefixes: dict[str, dict], names) -> dict[str, dict]:
    """Cumulative prefix counters -> per-layer self counters."""
    out, prev = {}, None
    for name in names:
        cur = prefixes[name]
        out[name] = sub(cur, prev) if prev else dict(cur)
        prev = cur
    return out


# ------------------------------------------------------------------


# Sizes: one operation takes about 3 s on 4 cores, long enough that the
# data work is not lost in per-job overhead, short enough that every run,
# Spark start and two warm-up operations included, ends within a minute.


class FlagshipPages(Workload):
    name = "flagship_pages"
    rows = 300_000
    # traced commit path: flagship_resumable stopped after half of the
    # commit groups (`max_commits`), then resumed to completion
    n_buckets = 2
    per_commit = 1
    stop_after = 1

    def setup(self):
        self.path = inputs.pages(self.ctx.cache, self.ctx.seed, self.rows,
                                 self.ctx.cores)

    def expect(self):
        off = inputs.page_offset(self.ctx.seed, self.rows)
        self.expected = oracles.flagship_expected(off, self.rows)
        self.exprs = oracles.flagship_digest_exprs(oracles.flagship_pairs())

    def pages(self):
        return self.spark.read.parquet(self.path)

    def op(self):
        got = _observed(flagship_assign(self.pages()), self.exprs)
        return lambda: oracles.mismatches(self.expected, got)

    def trace(self, tr, reps: int = 3):
        pages = self.pages()
        chain = [
            ("pages.scan", lambda: pages.select("url", "text")),
            ("pages.geocode", lambda: geocode(pages)),
            ("spatial.cell", lambda: with_cell(geocode(pages))),
            ("spatial.assign", lambda: flagship_assign(pages)),
        ]
        pre = _prefixes(tr, chain, reps)
        layers = _layers(pre, [n for n, _ in chain])
        with tr.span("aux.counts"):
            scanned = pages.count()
            probed, geocoded = geocode(pages).agg(
                F.count(F.lit(1)), F.count("lat_i")).first()
            # one flagship_assign pass, checked against the planted
            # places, is the reference for the commit check below
            cols = ["url", "lat_i", "lon_i", "cell", "region", "subregion"]
            ref = _observed(flagship_assign(pages), self.exprs + [
                F.bit_xor(F.xxhash64(F.struct(*cols))).alias("xor")])
        xor = ref.pop("xor")
        problems = oracles.mismatches(self.expected, ref)
        extra = {
            "pages.geocode.hit_ratio": geocoded / scanned,
            "spatial.assign.hit_ratio": ref["rows"] / max(probed, 1),
            "spatial.assign.py_mb_in": layers["spatial.assign"]["py_mb_in"],
            "spatial.assign.py_init_ms":
                layers["spatial.assign"]["py_init_ms"],
        }
        commit_layers, commit_extra, commit_bad = self._trace_commit(
            tr, pre["spatial.assign"], {"rows": ref["rows"], "xor": xor})
        layers.update(commit_layers)
        extra.update(commit_extra)
        self.full_prefix = pre["spatial.assign"]
        return layers, extra, problems + commit_bad

    def _trace_commit(self, tr, upstream, reference):
        """Trace flagship_resumable: each manifest data write and stats
        write is a span (DataFrameWriter.parquet wrapped by path), and
        its self figures are the span's minus one upstream pass."""
        from pyspark.sql.readwriter import DataFrameWriter

        from osmgraft.manifest import manifest_df, read_committed, \
            verify_manifest

        parquet = DataFrameWriter.parquet

        def traced_parquet(writer, path, *a, **kw):
            kind = "write" if os.path.basename(path) == "data" else "stats"
            with tr.span(f"manifest.{kind}"):
                return parquet(writer, path, *a, **kw)

        out = os.path.join(self.ctx.work, "commit-trace")
        shutil.rmtree(out, ignore_errors=True)
        kw = dict(n_buckets=self.n_buckets,
                  buckets_per_commit=self.per_commit)
        DataFrameWriter.parquet = traced_parquet
        try:
            with tr.span("commit.run") as run:
                flagship_resumable(self.pages(), out,
                                   max_commits=self.stop_after, **kw)
            with tr.span("commit.resume") as resume:
                flagship_resumable(self.pages(), out, **kw)
        finally:
            DataFrameWriter.parquet = parquet

        rows = manifest_df(self.spark, out).select(
            "bucket", "n_rows", "value_hash", "committed_at").collect()
        bad = oracles.commit_mismatches(
            self.n_buckets,
            [(r.bucket, r.n_rows, r.value_hash) for r in rows],
            verify_manifest(self.spark, out).count(),
            read_committed(self.spark, out).count(),
            reference,
        )
        shutil.rmtree(out, ignore_errors=True)
        stamps = sorted({r.committed_at for r in rows})
        commit_s = [b - a for a, b in zip([run["start"]] + stamps, stamps)]

        layers, scanned = {}, 0
        for kind in ("write", "stats"):
            recs = [s["counters"] for s in tr.spans
                    if s["name"] == f"manifest.{kind}"
                    and s["start"] >= run["start"]]
            total = {k: sum(r[k] for r in recs) for k in upstream
                     if k != "task_s"}
            scanned += total["input_records"]
            base = {k: len(recs) * v for k, v in upstream.items()
                    if k != "task_s"}
            layers[f"manifest.{kind}"] = sub(total, base)
        extra = {
            "manifest.recompute_ratio": scanned / self.rows,
            "manifest.resume_overhead_s":
                resume["counters"]["self_s"] - run["counters"]["self_s"],
            "manifest.commit_s_p50": statistics.median(commit_s),
            "manifest.commit_s_max": max(commit_s),
        }
        return layers, extra, bad


class PointsPipTiles(Workload):
    name = "points_pip_tiles"
    rows = 2_000_000

    def setup(self):
        self.path = inputs.points(self.ctx.cache, self.ctx.seed, self.rows,
                                  2 * self.ctx.cores)
        self.polyset = fixture_polyset()

    def expect(self):
        self.expected = oracles.tiles_expected(self.path)
        self.exprs = oracles.tiles_digest_exprs()

    def plan(self):
        pts = self.spark.read.parquet(self.path)
        return tile_rollup(with_cell(assign_regions(pts, self.polyset)))

    def op(self):
        got = _observed(self.plan(), self.exprs)
        return lambda: oracles.mismatches(self.expected, got)

    def trace(self, tr, reps: int = 3):
        pts = self.spark.read.parquet(self.path)
        ps = self.polyset
        chain = [
            ("scan", lambda: pts.select("doc_id", "lat_i", "lon_i")),
            ("spatial.assign", lambda: assign_regions(pts, ps)),
            ("spatial.cell", lambda: with_cell(assign_regions(pts, ps))),
            ("tiles.rollup", self.plan),
        ]
        pre = _prefixes(tr, chain, reps)
        layers = _layers(pre, [n for n, _ in chain])
        gx1, gy1, gx2, gy2 = ps.global_bbox
        with tr.span("aux.counts"):
            probed = pts.filter(
                (F.col("lon_i") >= gx1) & (F.col("lon_i") <= gx2)
                & (F.col("lat_i") >= gy1) & (F.col("lat_i") <= gy2)
            ).count()
            assigned = assign_regions(pts, ps).count()
        tasks = pre["tiles.rollup"]["task_s"] or [0.0]
        extra = {
            "spatial.assign.hit_ratio": assigned / max(probed, 1),
            "spatial.assign.py_mb_in": layers["spatial.assign"]["py_mb_in"],
            "spatial.assign.py_init_ms":
                layers["spatial.assign"]["py_init_ms"],
            "tiles.rollup.max_task_s": max(tasks),
            "tiles.rollup.median_task_s": statistics.median(tasks),
        }
        self.full_prefix = pre["tiles.rollup"]
        del layers["scan"]
        return layers, extra, []


WORKLOADS = {w.name: w for w in (FlagshipPages, PointsPipTiles)}
