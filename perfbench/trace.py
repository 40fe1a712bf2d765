"""Spans around the benchmark's calls into each layer, and the
per-layer metrics derived from them plus Spark's status stores.

A span records name, layer, start, end, parent and iteration.  Every
span's Spark actions run under their own job group, so after the
iteration ``sparkstats`` returns what Spark recorded for each span.
Spans stay in memory and are written out when the run ends.

Self time of a span is its wall time minus the time its child spans
cover.  The busy part of a span is the time during which a stage of
its groups ran; it is split across layers by the share of task time
that plan nodes of each kind report:

=================================================  ================
plan node                                          layer
=================================================  ================
``Scan *``, ``Range``                              ``sources``
``ArrowEvalPython``, ``MapInArrow`` and kin        ``udfs``
``Exchange``                                       ``exchange``
``Execute InsertIntoHadoopFsRelationCommand``      ``sink``
anything else (aggregates, joins, codegen stages)  the span's layer
=================================================  ================

``spark.idle_s`` is measured apart from the spans: the iteration wall
minus the union of every stage run in the iteration (driver work and
scheduling gaps).  ``trace.gap_s`` is the layer self times plus
``spark.idle_s`` minus the iteration wall; it is not zero when a stage
ran outside every span's groups, or when the busy stretches of two
spans overlap.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from . import hostctx
from .sparkstats import GroupStats, StatusReader

_PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowWindowPython",
)
_JOIN_NODES = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)
NODE_LAYERS = ("sources", "udfs", "exchange", "sink")


def node_layer(name: str) -> str | None:
    if name.startswith("Scan ") or name == "Range":
        return "sources"
    if name.startswith(_PY_NODES):
        return "udfs"
    if name.startswith("Exchange"):
        return "exchange"
    if name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
        return "sink"
    return None


def _node_time(layer: str, metrics: dict[str, float]) -> float:
    if layer == "sources":
        return metrics.get("scan time", 0.0)
    if layer == "udfs":
        return metrics.get("time to run Python workers", 0.0)
    if layer == "exchange":
        return metrics.get("shuffle write time", 0.0) + metrics.get(
            "fetch wait time", 0.0
        )
    return metrics.get("task commit time", 0.0) + metrics.get(
        "job commit time", 0.0
    )


@dataclass
class Span:
    name: str
    layer: str
    iteration: int
    parent: int | None
    group: str | None
    start: float = 0.0
    end: float = 0.0
    python_cpu_s: float = 0.0
    out_groups: list[str] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Closed-loop step instrumentation.  With ``enabled`` off, spans
    only time the step and its phases, and only each forcing action
    gets a job group, so its output row count can be read back from the
    SQL store."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.reader = StatusReader(spark)
        self.spans: list[Span] = []  # the current iteration's
        self.finished: list[Span] = []
        self.iteration = -1
        self._stack: list[int] = []
        self._seq = 0
        self._outputs: dict[str, str] = {}  # output name -> group
        # when set, noop-forced outputs are written as parquet under it
        self.capture_dir: str | None = None

    def _group(self, name: str) -> str:
        self._seq += 1
        return f"i{self.iteration}.{self._seq}.{name}"

    def begin_iteration(self, iteration: int) -> None:
        self.iteration = iteration
        self.spans = []
        self.walls: dict[str, float] = {}  # untraced: bench span walls
        self._outputs = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            # only the benchmark's own spans (step, phases) are timed
            t = time.perf_counter()
            yield None
            if layer == "bench":
                self.walls[name] = time.perf_counter() - t
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, self.iteration, parent, self._group(name))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(sp.group, sp.group)
        cpu0 = hostctx.python_cpu_s()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.python_cpu_s = hostctx.python_cpu_s() - cpu0
            self._stack.pop()
            self._restore_group()

    def _restore_group(self) -> None:
        if self._stack:
            g = self.spans[self._stack[-1]].group
            self.sc.setJobGroup(g, g)
        else:
            self.sc.setJobGroup("", "")

    def force(self, df, name: str, write=None) -> None:
        """The step's one forcing action: a ``noop`` write, or ``write``
        (which must run exactly one Spark write of ``df``)."""
        group = self._group(name + ".out")
        self._outputs[name] = group
        if self._stack:
            self.spans[self._stack[-1]].out_groups.append(group)
        self.sc.setJobGroup(group, group)
        try:
            if write is not None:
                write(df)
            elif self.capture_dir is not None:
                df.write.mode("overwrite").parquet(f"{self.capture_dir}/{name}")
            else:
                df.write.format("noop").mode("overwrite").save()
        finally:
            self._restore_group()

    def end_iteration(self) -> tuple[dict[str, int], dict[str, GroupStats]]:
        """Output rows per forced output, and (traced) the iteration's
        Spark records by group."""
        groups = self.reader.harvest(
            with_stages=self.enabled,
            only=None if self.enabled else set(self._outputs.values()),
        )
        rows = {name: output_rows(groups, g) for name, g in self._outputs.items()}
        self.finished.extend(self.spans)
        return rows, groups


def _merge(groups: dict[str, GroupStats], names) -> GroupStats:
    out = GroupStats()
    for n in names:
        g = groups.get(n)
        if g is not None:
            out.jobs += g.jobs
            out.stages += g.stages
            out.executions += g.executions
    return out


def layer_metrics(spans: list[Span], groups: dict[str, GroupStats]) -> dict[str, float]:
    """Per-layer metrics of one traced iteration: ``spans`` are its
    spans (parent indices into that list, root first), ``groups`` its
    harvested Spark records."""
    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    child_wall = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child_wall[s.parent] += s.wall
    for i, s in enumerate(spans):
        top = s.parent is None or spans[s.parent].layer != s.layer
        g = _merge(groups, [s.group, *s.out_groups])
        self_s = max(0.0, s.wall - child_wall[i])
        busy = g.busy_s()
        task_s = sum(st.run_s for st in g.stages)
        shares = {k: 0.0 for k in NODE_LAYERS}
        for node in g.nodes():
            lay = node_layer(node.name)
            if lay is not None:
                shares[lay] += _node_time(lay, node.metrics)
        named = sum(shares.values())
        scale = 1.0 / max(task_s, named, 1e-9)
        for lay, t in shares.items():
            add(f"self.{lay}_s", busy * t * scale)
        add(f"self.{s.layer}_s", busy * max(0.0, 1.0 - named * scale))
        _engine_counts(g, add)
        _layer_counts(s, top, max(0.0, self_s - busy), g, groups, add)
    if spans:
        # measured apart from the spans: the iteration wall minus the
        # union of every stage Spark ran in it, whatever its group
        wall = spans[0].wall
        every = GroupStats(stages=[st for g in groups.values() for st in g.stages])
        m["spark.idle_s"] = wall - every.busy_s()
        m["trace.iteration_s"] = wall
        m["trace.accounted_s"] = m["spark.idle_s"] + sum(
            v for k, v in m.items() if k.startswith("self.")
        )
        m["trace.gap_s"] = m["trace.accounted_s"] - wall
        add("udfs.python_cpu_s", spans[0].python_cpu_s)
    if m.get("spatial_join.candidate_rows"):
        m["spatial_join.refine_ratio"] = (
            m.get("_loop_result_rows", 0.0) / m["spatial_join.candidate_rows"]
        )
    if m.get("near_dup.candidate_pairs"):
        m["near_dup.verify_ratio"] = (
            m.get("near_dup.verified_pairs", 0.0) / m["near_dup.candidate_pairs"]
        )
    return m


def _engine_counts(g: GroupStats, add) -> None:
    for st in g.stages:
        add("exchange.shuffle_write_bytes", st.shuffle_write)
        add("exchange.shuffle_read_bytes", st.shuffle_read)
        add("exchange.spill_bytes", st.spill)
        add("jvm.cpu_s", st.cpu_s)
        add("jvm.gc_s", st.gc_s)
        add("spark.tasks", st.tasks)
    for node in g.nodes():
        lay = node_layer(node.name)
        rows = node.metrics.get("number of output rows", 0.0)
        if lay == "sources":
            add("sources.scan_s", _node_time(lay, node.metrics))
            add("sources.rows_read", rows)
        elif lay == "udfs":
            add("udfs.python_s", _node_time(lay, node.metrics))
            add("udfs.rows", rows)
        elif lay == "sink":
            add("sink.bytes_written", node.metrics.get("written output", 0.0))
            add("sink.files", node.metrics.get("number of written files", 0.0))


def output_rows(groups: dict[str, GroupStats], group: str) -> int:
    """Rows written by a forcing action: its group's last execution
    (-1 when Spark recorded none)."""
    execs = groups.get(group, GroupStats()).executions
    return max(execs, key=lambda e: e.id).root_rows() if execs else -1


def _out_rows(s: Span, groups: dict[str, GroupStats]) -> float:
    return sum(max(output_rows(groups, og), 0) for og in s.out_groups)


def _layer_counts(s: Span, top: bool, idle: float, g: GroupStats,
                  groups: dict[str, GroupStats], add) -> None:
    """Counts of the operator layers, measured at their own spans."""
    plan = s.name.endswith(".plan")
    own = groups.get(s.group, GroupStats())
    if s.layer == "tile":
        for node in g.nodes():
            if node.name.startswith("HashAggregate"):
                add("tile.agg_s", node.metrics.get("time in aggregation build", 0.0))
                add("tile.agg_rows_out", node.metrics.get("number of output rows", 0.0))
    elif s.layer == "sink" and top:
        add("sink.write_s", s.wall)
    elif s.layer == "spatial_join":
        if plan:
            add("spatial_join.plan_s", s.wall)
        add("spatial_join.result_rows", _out_rows(s, groups))
        # The cap join's refine is a column predicate that Spark folds
        # into the join condition, so its join node counts results, not
        # candidates.  The loop join refines in a pUDF above the join,
        # so its join node's rows are the candidates.
        if s.name == "spatial_join.point_in_loop_join":
            add("_loop_result_rows", _out_rows(s, groups))
            for og in s.out_groups:
                for node in groups.get(og, GroupStats()).nodes():
                    if node.name.startswith(_JOIN_NODES):
                        add("spatial_join.candidate_rows",
                            node.metrics.get("number of output rows", 0.0))
    elif s.layer == "knn":
        if top:
            add("knn.call_s", s.wall)
        add("knn.idle_s", idle)
        add("knn.spark_jobs", g.jobs)
        add("knn.stages", len(g.stages))
        if plan:
            add("knn.materialized_rows",
                sum(e.root_rows() for e in own.executions))
    elif s.layer == "near_dup":
        if top:
            add("near_dup.selfjoin_s", s.wall)
        if plan:
            add("near_dup.band_rows", sum(e.root_rows() for e in own.executions))
        if s.name == "textops.near_dup_pairs":
            add("near_dup.verified_pairs", _out_rows(s, groups))
            # the band self-join: the lowest join, below the shingle
            # joins whose `jaccard >= 0.5` filter Spark folds into the
            # top join's condition
            for og in s.out_groups:
                for ex in groups.get(og, GroupStats()).executions:
                    for node in ex.leaf_joins(_JOIN_NODES):
                        add("near_dup.candidate_pairs",
                            node.metrics.get("number of output rows", 0.0))
