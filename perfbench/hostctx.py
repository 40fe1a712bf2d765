"""Host context and process-tree accounting from ``/proc``.

Spark's ``executorCpuTime`` covers JVM threads only; Arrow pUDFs run
in Python worker processes forked by the ``pyspark.daemon`` under the
JVM.  So CPU and peak memory are read for the whole tree rooted at the
benchmark's own PID: driver Python, the JVM it launched, the daemon and
every worker.  CPU includes ``cutime``/``cstime``, so a worker that
exited and was reaped inside the window still counts, through its
parent.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces/parens: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """PIDs of ``root`` (default: this process) and all descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_roots(pids: list[int]) -> list[int]:
    """The ``pyspark.daemon`` processes.  Workers are forked from the
    daemon and share its command line, so a root is a daemon process
    whose parent is not one."""
    daemon = {p for p in pids if "pyspark.daemon" in _cmdline(p)}
    return [p for p in daemon if _parent(p) not in daemon]


def _parent(pid: int) -> int | None:
    f = _stat_fields(pid)
    return int(f[1]) if f is not None else None


def cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system, own + reaped children) of ``pids``."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # fields after comm: utime=11 stime=12 cutime=13 cstime=14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_cpu_s(root: int | None = None) -> float:
    return cpu_s(tree(root))


def python_cpu_s() -> float:
    """CPU seconds of every Spark Python worker tree under this process."""
    pids = tree()
    return sum(tree_cpu_s(r) for r in python_worker_roots(pids))


def peak_rss_mb() -> tuple[float, dict[str, float]]:
    """Sum of ``VmHWM`` (peak resident set) over the process tree, and
    the same split into driver, JVM, Python daemon and workers (with
    the worker count): Spark keeps a varying number of idle workers."""
    pids = tree()
    daemons = set(python_worker_roots(pids))
    workers = {w for d in daemons for w in tree(d)} - daemons
    me = os.getpid()
    roles = {"driver": 0.0, "jvm": 0.0, "python_daemon": 0.0, "python_workers": 0.0,
             "other": 0.0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb = next((int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        role = ("driver" if pid == me else "python_daemon" if pid in daemons
                else "python_workers" if pid in workers
                else "jvm" if "java" in _cmdline(pid) else "other")
        roles[role] += kb / 1024.0
    roles["n_python_workers"] = float(len(workers))
    return sum(v for k, v in roles.items() if k != "n_python_workers"), roles


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def cellid_probe() -> float:
    """Single-core ``kernels.cellid.xyz_to_cellid`` throughput in M
    rows/s on a fixed 1M-vector array: the neighbour-load gauge recorded
    next to every run (it never adjusts a number).  The same probe as
    ``bench.py``'s ``_contention_probe``, kept here unrounded because
    the benchmark drives only the library's public modules."""
    import numpy as np

    from s2geometry_spark.kernels import cellid as C

    xyz = np.random.RandomState(1).randn(3, 1_000_000)
    C.xyz_to_cellid(xyz[0][:1000], xyz[1][:1000], xyz[2][:1000])  # warm
    t0 = time.perf_counter()
    C.xyz_to_cellid(*xyz)
    return 1.0 / (time.perf_counter() - t0)
