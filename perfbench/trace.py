"""Layer spans for the traced run.

Each span runs under its own Spark job group. When it ends, the
group's stages are read from the status store (executor CPU, GC,
shuffle write, spill, input records, task count) and its SQL
executions from the SQL status store ("data sent to Python workers",
"time to initialize Python workers"). Spans are kept
in memory and written once, at exit.

Layer metrics come from cumulative prefixes of a workload, each
forced exactly as the workload forces it: a layer's self figures are
its prefix's figures minus the previous prefix's.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = ("self_s", "jvm_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
            "jobs", "tasks")
_MB = 1024 * 1024
_SIZE = {"B": 1, "KiB": 1024, "MiB": _MB, "GiB": 1024 * _MB,
         "TiB": 1024 * 1024 * _MB}
_TIME_MS = {"ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _metric_value(text: str) -> float:
    """Spark's formatted SQL metric ('total (...)\\n2.8 MiB (...)' or
    '5.4 s') -> bytes or milliseconds."""
    head = text.split("\n")[-1].split(" (")[0].strip()
    num, unit = head.split(" ")
    scale = _SIZE.get(unit) or _TIME_MS.get(unit)
    return float(num.replace(",", "")) * scale


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def sub(a: dict, b: dict) -> dict:
    """Counter difference a - b (lists, such as task times, stay a's)."""
    return {k: v if isinstance(v, list) else v - b.get(k, 0)
            for k, v in a.items()}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}:{len(self.spans)}:{name}"
        rec = {"name": name, "run_id": self.run_id, "group": group,
               "parent": parent["group"] if parent else None,
               "children_s": 0.0}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            dur = rec["end"] - rec["start"]
            if parent:
                parent["children_s"] += dur
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["counters"] = self.counters(group)
            rec["counters"]["self_s"] = dur - rec["children_s"]

    def counters(self, group: str) -> dict:
        """Status-store figures of every job run under `group`."""
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        c = dict.fromkeys(COUNTERS, 0.0)
        c.update(input_records=0, py_mb_in=0.0, py_init_ms=0.0,
                 task_s=[])
        c["jobs"] = len(jobs)
        stages = set()
        for j in jobs:
            stages.update(_seq(self.store.job(j).stageIds()))
        for sid in stages:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # skipped stage that never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["jvm_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            c["spill_mb"] += (st.memoryBytesSpilled()
                              + st.diskBytesSpilled()) / _MB
            c["tasks"] += st.numCompleteTasks()
            c["input_records"] += st.inputRecords()
            if st.shuffleReadRecords() > 0:
                tasks = self.store.taskList(sid, st.attemptId(), 100000)
                c["task_s"] += [t.duration().get() / 1e3
                                for t in _seq(tasks)
                                if t.duration().isDefined()]
        for e in _seq(self.sql.executionsList()):
            if not any(e.jobs().contains(j) for j in jobs):
                continue
            values = self.sql.executionMetrics(e.executionId())
            for m in _seq(e.metrics()):
                if not values.contains(m.accumulatorId()):
                    continue
                v = values.apply(m.accumulatorId())
                if m.name() == "data sent to Python workers":
                    c["py_mb_in"] += _metric_value(v) / _MB
                elif m.name() == "time to initialize Python workers":
                    c["py_init_ms"] += _metric_value(v)
        return c

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)
