"""Per-layer attribution for one traced iteration, from outside the
program: each layer's public functions are wrapped in-process, and each
call opens a span, names its Spark jobs by setting the job group to the
layer, and materializes the returned DataFrame (``localCheckpoint``)
inside the span so the layer's own work runs there and not in a later
consumer. Spark's task accounting is then folded by job group from the
live status store, which keeps stage metrics with the UI off.

Because every returned relation is materialized, the traced iteration
also computes relations the untraced program builds but never acts on
(the CLI's averaged ``build_plan`` output when it writes a physical
UVFITS file), and it computes a relation shared by several sinks once
where the untraced program recomputes it per sink. ``trace_overhead_s``
reports the resulting wall-time difference."""

from __future__ import annotations

import functools
import importlib
import itertools
import time
from dataclasses import dataclass, field

from proc import tree_cpu_s

#: layer name -> public functions (module, attribute) that enter it
LAYERS: dict[str, tuple[tuple[str, str], ...]] = {
    "sources.gpubox": (("birli_spark.sources.gpubox", "read_gpubox"),),
    "sources.synthetic": (("birli_spark.sources.synthetic", "load_vis"),),
    "operators.flags": (("birli_spark.operators.flags", "set_flags"),),
    "pipeline": (("birli_spark.pipeline", "fanout_materialize"),
                 ("birli_spark.pipeline", "rule_flags")),
    "operators.corrections": tuple(
        ("birli_spark.operators.corrections", f) for f in (
            "attach_cell_gate", "correct_cable_lengths",
            "correct_digital_gains", "correct_passband_gains",
            "correct_geometry")),
    "operators.ssins": (("birli_spark.operators.ssins", "ssins_flag_vis"),),
    "operators.rfi": (("birli_spark.operators.rfi", "flag_rfi_mwa"),),
    "operators.weights": (("birli_spark.operators.weights",
                           "bake_flags_into_weights"),),
    "sinks.uvfits.rows": (("birli_spark.sinks.uvfits",
                           "uvfits_group_rows"),),
    "sinks.uvfits.write": (("birli_spark.sinks.uvfits",
                            "write_uvfits_distributed"),),
    "sinks.ms_file": (("birli_spark.sinks.ms_file", "write_ms_casa"),),
    "sinks.mwaf": (("birli_spark.sinks.mwaf",
                    "write_mwaf_set_distributed"),),
    "cli": (("birli_spark.cli", "run"),),
}
#: layers whose output relation carries a ``flag`` column worth counting
FLAG_LAYERS = ("operators.flags", "operators.ssins", "operators.rfi")
#: per-layer metrics, in report order, with units
LAYER_METRICS = (
    ("wall_s", "s"), ("calls", "count"), ("tree_cpu_s", "s"),
    ("exec_run_s", "s"), ("exec_cpu_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("gc_s", "s"), ("failed_tasks", "count"),
)
#: the per-layer metrics that come from Spark's task accounting
STAGE_METRICS = tuple(name for name, _ in LAYER_METRICS[3:])
ROOT = "unattributed"
_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    trace_id: int
    parent: int | None
    span_id: int
    start: float
    cpu0: float
    end: float = 0.0
    cpu1: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Holds spans in memory for one traced iteration and restores the
    program's functions on :meth:`close`."""

    def __init__(self, sc, trace_id: int) -> None:
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._saved: list[tuple[object, str, object]] = []
        self.flag_counts: dict[str, list[int]] = {}
        self.rows_out: dict[str, int] = {}

    def install(self) -> None:
        for layer, funcs in LAYERS.items():
            for mod_name, attr in funcs:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                self._saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(layer, orig))

    def close(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    def open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(name, self.trace_id, parent, next(self._ids),
                    time.perf_counter(), tree_cpu_s())
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(span.span_id)
        self._stack.append(span.span_id)
        return span

    def end(self, span: Span) -> None:
        span.end, span.cpu1 = time.perf_counter(), tree_cpu_s()
        self._stack.pop()

    def _wrap(self, layer: str, orig):
        from pyspark.sql import DataFrame

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, layer)
            span = self.open(layer)
            try:
                out = orig(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            finally:
                self.end(span)
                self.sc.setLocalProperty(_GROUP, prev)
            if isinstance(out, DataFrame):
                self._count(layer, out)
            return out

        return traced

    def _count(self, layer: str, df) -> None:
        """Row and flag counts of a materialized layer output, taken
        after the span closed so they cost the layer nothing."""
        from pyspark.sql import functions as F

        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, "trace.counters")
        try:
            if layer in FLAG_LAYERS and "flag" in df.columns:
                n, f = df.agg(F.count(F.lit(1)),
                              F.sum(F.col("flag").cast("long"))).first()
                acc = self.flag_counts.setdefault(layer, [0, 0])
                acc[0] += n
                acc[1] += f or 0
            elif layer.startswith("sources."):
                self.rows_out[layer] = (self.rows_out.get(layer, 0)
                                        + df.count())
        finally:
            self.sc.setLocalProperty(_GROUP, prev)

    def layer_times(self) -> dict[str, dict[str, float]]:
        """Self wall and self process-tree CPU per layer name: a span's
        duration minus its children's (children run nested on the one
        driver thread, so they never overlap each other)."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            kids = [self.spans[i] for i in s.children]
            wall = (s.end - s.start) - sum(k.end - k.start for k in kids)
            cpu = (s.cpu1 - s.cpu0) - sum(k.cpu1 - k.cpu0 for k in kids)
            acc = out.setdefault(s.name, {"wall_s": 0.0, "calls": 0,
                                          "tree_cpu_s": 0.0})
            acc["wall_s"] += wall
            acc["tree_cpu_s"] += cpu
            acc["calls"] += 1
        return out

    def span_records(self) -> list[dict]:
        return [{"name": s.name, "trace_id": s.trace_id,
                 "span_id": s.span_id, "parent": s.parent,
                 "start": s.start, "end": s.end} for s in self.spans]


def _jlist(sc, seq):
    return sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def _stages(sc):
    """Every stage attempt in the live status store, newest first."""
    jvm = sc._jvm
    return _jlist(sc, sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()))


def stage_metrics(sc, min_stage: int = 0) -> dict[int, dict[str, float]]:
    """Task accounting of every stage attempt with id >= ``min_stage``,
    summed per stage id. Stops at the first older stage: each access is
    a py4j round trip, and a session accumulates hundreds of stages."""
    out: dict[int, dict[str, float]] = {}
    for st in _stages(sc):
        sid = st.stageId()
        if sid < min_stage:
            break
        acc = out.setdefault(sid, dict.fromkeys(STAGE_METRICS, 0.0))
        acc["exec_run_s"] += st.executorRunTime() / 1e3
        acc["exec_cpu_s"] += st.executorCpuTime() / 1e9
        acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
        acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        acc["gc_s"] += st.jvmGcTime() / 1e3
        acc["failed_tasks"] += st.numFailedTasks() + (st.attemptId() > 0)
    return out


def max_stage_id(sc) -> int:
    stages = _stages(sc)
    return stages.get(0).stageId() if stages.size() else -1


def fold_by_group(sc, min_stage: int) -> dict[str, dict[str, float]]:
    """Stage metrics since ``min_stage`` summed by the job group of the
    job that first listed each stage (a stage a later job reuses shows
    up there as skipped, with no tasks)."""
    store = sc._jsc.sc().statusStore()
    metrics = stage_metrics(sc, min_stage)
    owner: dict[int, str] = {}
    # jobs come newest first, so the last job seen for a stage is the
    # one that ran it; stop at the first job with no new stage
    for j in _jlist(sc, store.jobsList(sc._jvm.java.util.ArrayList())):
        sids = [int(x) for x in _jlist(sc, j.stageIds())]
        if max(sids, default=-1) < min_stage:
            break
        grp = j.jobGroup()
        name = grp.get() if grp.isDefined() else ROOT
        for sid in sids:
            owner[sid] = name
    out: dict[str, dict[str, float]] = {}
    for sid, m in metrics.items():
        acc = out.setdefault(owner.get(sid, ROOT),
                             dict.fromkeys(STAGE_METRICS, 0.0))
        for k, v in m.items():
            acc[k] += v
    return out
