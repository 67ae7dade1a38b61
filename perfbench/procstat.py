"""Process-tree CPU and memory from /proc (Linux).

The tree is this process (the Spark driver) plus every descendant: the Spark JVM,
the pyspark daemon and its forked Python workers. CPU counts
utime + stime of live processes plus cutime + cstime (children that
were already reaped), so work done by short-lived workers is not lost.
Spark's own `executorCpuTime` leaves out Python-worker CPU, which is
where the PIP kernel, pbf decode and o5m encode run.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may contain spaces; fields resume after the last ')'
    rest = raw[raw.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    cpu = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return ppid, cpu


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid, _ = _stat(int(d))
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    total = 0
    for p in tree(root):
        try:
            total += _stat(p)[1]
        except (OSError, ValueError, IndexError):
            pass  # exited between listing and reading
    return total / _TICK


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def reset_peaks(root: int | None = None) -> None:
    """Restart every process's VmHWM from its current RSS, so a later
    peak covers only what ran after this call, not input generation."""
    for p in tree(root):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # exited, or a kernel without peak reset


def jvm_pid(root: int | None = None) -> int | None:
    for p in tree(root):
        if "java" in _cmdline(p).split(" ", 1)[0]:
            return p
    return None


def peak_rss_mb(root: int | None = None) -> tuple[float, float]:
    """-> (JVM VmHWM, largest Python worker VmHWM) in MB, since the
    last `reset_peaks`."""
    jvm = jvm_pid(root)
    if jvm is None:
        return 0.0, 0.0
    workers = [
        _status_kb(p, "VmHWM")
        for p in tree(jvm)
        if p != jvm and "pyspark" in _cmdline(p)
    ]
    return _status_kb(jvm, "VmHWM") / 1024, max(workers, default=0) / 1024


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024}
