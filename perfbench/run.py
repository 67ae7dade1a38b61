"""osmgraft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload flagship_pages --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. It starts Spark on local[nproc] with
Spark driver memory sized from the host, builds the seeded inputs (cached
under .perfbench/ by workload, size and seed), runs two untimed
warm-up operations, then runs operations back to back until --seconds
have passed. Every operation's output is checked against an oracle
that does not share the measured plan; a mismatch or an exception is
a failed operation.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(it also runs the timed loop, to report the tracing overhead). The
last line of stdout is one JSON object:
    {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}
Host facts and, for traced runs, the spans are written under
.perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "rows_per_s": "rows/s",
    "cpu_s_per_mrow": "s/Mrow",
    "worker_rss_mb": "MB",
    "setup_s": "s",
}
# the first operation after start-up also pays JIT compilation and
# Python worker start; the second still runs measurably slower
WARMUP_OPS = 2


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _dirs() -> dict:
    d = {k: os.path.join(STATE, k)
         for k in ("cache", "work", "results", "tmp", "spark-local")}
    for path in d.values():
        os.makedirs(path, exist_ok=True)
    return d


def _start_spark(dirs: dict, cores: int):
    from osmgraft.session import get_spark
    from perfbench.procstat import host_facts

    mem_mb = host_facts()["mem_total_mb"]
    # 40% of the host for the Spark driver JVM (which is also the local
    # executor); the engine's 24g default assumes a bigger box
    driver_gb = max(1, min(24, int(mem_mb * 0.4) // 1024))
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    extra = {
        "spark.driver.memory": f"{driver_gb}g",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": os.path.join(dirs["tmp"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark("perfbench", cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, extra


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _facts(spark, conf: dict, cores: int) -> dict:
    import pandas
    import pyarrow

    from perfbench.procstat import host_facts

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=30,
        ).stdout.strip() or None
    except OSError:
        sha = None
    return dict(
        host_facts(), cores=cores, spark=spark.version,
        pyarrow=pyarrow.__version__, pandas=pandas.__version__,
        git_sha=sha, session_conf=conf,
    )


def _percentile(xs, q: float) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


def _failed(finish) -> bool:
    """Run one operation's deferred oracle check."""
    try:
        if finish is None:
            raise RuntimeError("operation raised")
        bad = finish()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return True
    if bad:
        print(f"oracle mismatch: {bad[:5]}", file=sys.stderr)
    return bool(bad)


def main() -> int:
    a = _args()
    t_proc, t_wall = time.perf_counter(), time.time()
    sys.path.insert(0, ROOT)
    try:
        import osmgraft  # the engine under test, from this checkout
        from perfbench import procstat
        from perfbench.kernels import kernel_rates
        from perfbench.trace import COUNTERS, Tracer
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not osmgraft.__file__.startswith(ROOT + os.sep):
        print(f"osmgraft came from {osmgraft.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2
    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    dirs = _dirs()
    # Spark's Python workers import the engine from this checkout;
    # every temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    cores = len(os.sched_getaffinity(0))

    spark, conf = _start_spark(dirs, cores)
    start_s = time.perf_counter() - t_proc
    try:
        from types import SimpleNamespace

        ctx = SimpleNamespace(spark=spark, seed=a.seed, cores=cores,
                              cache=dirs["cache"], work=dirs["work"])
        wl = WORKLOADS[a.workload](ctx)
        t = time.perf_counter()
        spark.sparkContext.setJobGroup("setup:inputs", "input generation")
        wl.setup()
        input_gen_s = time.perf_counter() - t
        wl.expect()
        spark.sparkContext.setJobGroup("setup:warmup", "warm-up")
        t = time.perf_counter()
        warm = [wl.op() for _ in range(WARMUP_OPS)]
        warmup_s = time.perf_counter() - t
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        setup_s = start_s + input_gen_s + warmup_s

        # timed window: operations back to back, checks deferred
        op_s, finishes = [], []
        procstat.reset_peaks()
        cpu0 = procstat.tree_cpu_s()
        t_win = time.perf_counter()
        while True:
            t = time.perf_counter()
            try:
                finishes.append(wl.op())
            except Exception:
                traceback.print_exc(file=sys.stderr)
                finishes.append(None)
            op_s.append(time.perf_counter() - t)
            if time.perf_counter() - t_win >= a.seconds:
                break
        cpu_s = procstat.tree_cpu_s() - cpu0
        jvm_mb, worker_mb = procstat.peak_rss_mb()

        # warm-up outputs are checked too, and count as attempts
        failed = sum(map(_failed, warm + finishes))
        attempted = len(warm) + len(finishes)

        metrics = {
            "rows_per_s": statistics.median(wl.rows / s for s in op_s),
            "cpu_s_per_mrow": cpu_s / (wl.rows * len(op_s) / 1e6),
            "worker_rss_mb": worker_mb,
            "setup_s": setup_s,
        }
        out = {k: {"value": v, "unit": END_TO_END[k]}
               for k, v in metrics.items()}
        summary = {
            "workload": a.workload, "seed": a.seed,
            "op_s": op_s, "session_start_s": start_s,
            "input_gen_s": input_gen_s, "warmup_s": warmup_s,
            "jvm_hwm_mb": jvm_mb, "worker_hwm_mb": worker_mb,
        }

        if a.trace:
            tr = Tracer(spark, f"{a.workload}-s{a.seed}")
            layers, extra, problems = wl.trace(tr)
            attempted += 1  # the traced run's own oracle checks
            if problems:
                print(f"oracle mismatch (traced run): {problems[:5]}",
                      file=sys.stderr)
                failed += 1
            gen = tr.counters("setup:inputs")
            gen["self_s"] = start_s + input_gen_s
            layers["session"] = gen
            tr.spans.insert(0, {
                "name": "session", "run_id": tr.run_id,
                "group": "setup:inputs", "parent": None, "start": t_wall,
                "end": t_wall + gen["self_s"], "counters": gen})
            per_layer = {}
            for span in _SPANS:
                for c in COUNTERS:
                    per_layer[f"{span}.{c}"] = layers.get(span, {}).get(c, 0)
            per_layer.update(dict.fromkeys(_EXTRA, 0))
            per_layer.update(extra)
            per_layer.update(kernel_rates())
            per_layer.update({
                "session.start_s": start_s,
                "session.input_gen_s": input_gen_s,
                "trace.overhead_s": wl.full_prefix["self_s"]
                - statistics.median(op_s),
                "error_rate": failed / attempted,
                "peak_rss_mb": jvm_mb + worker_mb,
            })
            out = {k: {"value": float(v), "unit": _unit(k)}
                   for k, v in per_layer.items()}
            tr.write(os.path.join(
                dirs["results"], f"spans-{a.workload}-s{a.seed}.json"))

        summary.update(ops=attempted, failed=failed,
                       host=_facts(spark, conf, cores))
        with open(os.path.join(
                dirs["results"],
                f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump(dict(summary, metrics=out), f, indent=1)
    finally:
        _stop_spark(spark)

    print("# " + json.dumps({k: summary[k] for k in
                             ("workload", "seed", "ops", "failed")}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


_SPANS = ("session", "pages.scan", "pages.geocode", "spatial.cell",
          "spatial.assign", "tiles.rollup", "manifest.write",
          "manifest.stats")
_EXTRA = {
    "pages.geocode.hit_ratio": "ratio",
    "spatial.assign.py_mb_in": "MB",
    "spatial.assign.py_init_ms": "ms",
    "spatial.assign.hit_ratio": "ratio",
    "tiles.rollup.max_task_s": "s",
    "tiles.rollup.median_task_s": "s",
    "manifest.recompute_ratio": "ratio",
    "manifest.resume_overhead_s": "s",
    "manifest.commit_s_p50": "s",
    "manifest.commit_s_max": "s",
    "geo.pip.kernel_mpts_per_s": "Mpts/s",
    "wire.o5m.kernel_mobj_per_s": "Mobj/s",
    "sources.pbf.kernel_mobj_per_s": "Mobj/s",
    "session.start_s": "s",
    "session.input_gen_s": "s",
    "trace.overhead_s": "s",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
}
_COUNTER_UNITS = {"self_s": "s", "jvm_cpu_s": "s", "gc_s": "s",
                  "shuffle_write_mb": "MB", "spill_mb": "MB",
                  "jobs": "count", "tasks": "count"}


def _unit(name: str) -> str:
    return _EXTRA.get(name) or _COUNTER_UNITS[name.rsplit(".", 1)[1]]


if __name__ == "__main__":
    sys.exit(main())
