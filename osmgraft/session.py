"""SparkSession factory with engine defaults.

Tuned for the target profile (BASELINE.json): huge scans, broadcast
spatial joins, Arrow-batched pandas UDF kernels, AQE for skew.
Defaults fit the host: local[N] over the CPUs this process may run on
and 40% of physical memory for the driver (SPARK_GRAFT_CPUS and
SPARK_GRAFT_DRIVER_MEM override both); on a real cluster the same
conf ships via spark-submit --py-files and only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_mem() -> str:
    """40% of the host's physical memory, in whole GB (at least 1):
    the driver JVM is also the local executor, and the Python workers
    and the OS need the rest."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f
                  if ln.startswith("MemTotal:"))
    return f"{max(1, kb * 2 // 5 >> 20)}g"


def get_spark(
    app_name: str = "osmgraft",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS",
                                   len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        # ~1 shuffle partition per core locally; a real cluster sets
        # this to 2-3x total cores (or relies on AQE coalescing)
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate clones the generator's CHILD
        # EXPRESSION into a Filter below the Generate. For a scan
        # column that enables pushdown, but for computed arrays
        # (split->transform n-grams, minhash signatures, chunk
        # shingles) it duplicates the whole expression tree into an
        # interpreted (non-codegen) Filter that re-evaluates the
        # HOF lambda per element — measured 6x on the DSIR bigram
        # query (11.4s -> 1.9s at sf0.1) and 2-5x on every other
        # explode-of-computed-array query. Generate already skips
        # empty arrays; the only loss is row-group pruning for
        # explode of a *stored* array column, which no registered
        # query relies on.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
