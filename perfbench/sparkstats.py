"""Read Spark's own status stores from the driver, outside the program.

Two stores, both populated with the UI disabled:

- ``sc._jsc.sc().statusStore()`` (core): jobs with their job group and
  stage ids, and per-stage run time, JVM CPU, GC, shuffle and spill.
- ``spark._jsparkSession.sharedState().statusStore()`` (SQL): per
  execution, the final (post-AQE) plan graph and its node metrics.

Everything is keyed by job group: the benchmark tags each span's Spark
actions with ``setJobGroup`` and harvests the group afterwards.  SQL
metric values arrive as display strings (``"1.2 s"``,
``"total (min, med, max ...)\\n582.5 KiB (...)"``); ``parse_metric``
turns them back into numbers (seconds, bytes or counts).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
_NUM = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """Numeric value of a SQL metric display string: the total for
    per-task metrics, seconds for timings, bytes for sizes."""
    if not text:
        return 0.0
    if "\n" in text:  # "total (min, med, max ...)\n<total> (<min>, ...)"
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


@dataclass
class PlanNode:
    id: int
    name: str
    metrics: dict[str, float]
    children: list[int] = field(default_factory=list)


@dataclass
class Execution:
    id: int
    nodes: dict[int, PlanNode]

    def root_rows(self) -> int:
        """Rows the plan's root produced: the first node carrying a row
        count, summed across a Union's branches."""
        return int(self._rows(min(self.nodes)))

    def leaf_joins(self, prefixes: tuple[str, ...]) -> list[PlanNode]:
        """Join nodes (names starting with ``prefixes``) with no join
        below them."""

        def has_join(nid: int) -> bool:
            return any(
                self.nodes[c].name.startswith(prefixes) or has_join(c)
                for c in self.nodes[nid].children if c in self.nodes
            )

        return [n for n in self.nodes.values()
                if n.name.startswith(prefixes) and not has_join(n.id)]

    def _rows(self, nid: int) -> float:
        node = self.nodes[nid]
        if "number of output rows" in node.metrics:
            return node.metrics["number of output rows"]
        return sum(self._rows(c) for c in node.children)


@dataclass
class Stage:
    id: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: float
    shuffle_read: float
    spill: float
    tasks: int
    start_ms: int
    end_ms: int


@dataclass
class GroupStats:
    """Everything Spark recorded for one job group."""

    jobs: int = 0
    stages: list[Stage] = field(default_factory=list)
    executions: list[Execution] = field(default_factory=list)

    def busy_s(self) -> float:
        """Wall time during which at least one stage of the group ran."""
        spans = sorted((s.start_ms, s.end_ms) for s in self.stages)
        total, cur_lo, cur_hi = 0, None, None
        for lo, hi in spans:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total / 1000.0

    def nodes(self):
        for ex in self.executions:
            yield from ex.nodes.values()


def _opt_ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt.isDefined() else None


class StatusReader:
    """Incremental reader: each ``harvest`` returns only what was
    recorded since the previous call, grouped by job group.

    Executions are matched to groups by their description, which
    ``setJobGroup`` sets.  The session must retain every job, stage and
    execution of a run (see ``run.SESSION_CONF``): the offsets below
    assume nothing is evicted."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._core = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._max_job = -1
        self._exec_offset = 0

    def harvest(
        self, with_stages: bool = True, only: set[str] | None = None
    ) -> dict[str, GroupStats]:
        """New jobs, stages and executions by group; with ``only``, plan
        graphs are read for those groups alone (each costs a few hundred
        gateway calls)."""
        # the stores are fed asynchronously from the listener bus;
        # drain it so the last action's metrics are final
        self._bus.waitUntilEmpty()
        out: dict[str, GroupStats] = {}
        execs = self._sql.executionsList(self._exec_offset, 1 << 30)
        self._exec_offset += execs.size()
        for i in range(execs.size()):
            ex = execs.apply(i)
            desc = ex.description() or ""
            if only is not None and desc not in only:
                continue
            out.setdefault(desc, GroupStats()).executions.append(
                self._execution(ex.executionId())
            )
        if with_stages:
            self._harvest_jobs(out)
        else:  # skip them, so the next harvest holds only its own
            jobs = self._core.jobsList(None)
            if jobs.size():
                self._max_job = max(self._max_job, jobs.apply(0).jobId())
        return out

    def _harvest_jobs(self, out: dict[str, GroupStats]) -> None:
        jobs = self._core.jobsList(None)  # newest first
        newest = self._max_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._max_job:
                break
            newest = max(newest, jid)
            grp = job.jobGroup()
            gs = out.setdefault(grp.get() if grp.isDefined() else "", GroupStats())
            gs.jobs += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                st = self._core.lastStageAttempt(sids.apply(k))
                start = _opt_ms(st.submissionTime())
                end = _opt_ms(st.completionTime())
                if start is None or end is None:  # skipped: output reused
                    continue
                gs.stages.append(Stage(
                    id=st.stageId(),
                    run_s=st.executorRunTime() / 1e3,
                    cpu_s=st.executorCpuTime() / 1e9,
                    gc_s=st.jvmGcTime() / 1e3,
                    shuffle_write=float(st.shuffleWriteBytes()),
                    shuffle_read=float(st.shuffleReadBytes()),
                    spill=float(st.memoryBytesSpilled() + st.diskBytesSpilled()),
                    tasks=st.numCompleteTasks(),
                    start_ms=start,
                    end_ms=end,
                ))
        self._max_job = newest

    def _execution(self, eid: int) -> Execution:
        graph = self._sql.planGraph(eid)
        values = self._sql.executionMetrics(eid)
        nodes: dict[int, PlanNode] = {}
        all_nodes = graph.allNodes()
        for k in range(all_nodes.size()):
            n = all_nodes.apply(k)
            metrics = {}
            ms = n.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes[n.id()] = PlanNode(n.id(), n.name(), metrics)
        edges = graph.edges()
        for k in range(edges.size()):
            e = edges.apply(k)  # edge runs child -> parent
            if e.toId() in nodes:
                nodes[e.toId()].children.append(e.fromId())
        return Execution(eid, nodes)
