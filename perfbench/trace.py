"""Per-layer tracing of the engine from outside it.

``Tracer.install()`` wraps the DataFrame actions (``count``, ``collect``,
the writer's ``save``/``parquet``, the reader's ``parquet``) and the
driver-side engine entry points the workloads reach.  Each wrapped action
runs under its own Spark job group and records a span named after the
nearest engine function on the Python stack (``SPAN_OF``).  Setting the
group inside the wrapper, on the calling thread, also covers actions on
engine-owned threads such as the extract edge probe.

After an op, ``end_op`` reads every job of every span from the live
``AppStatusStore`` (``sc._jsc.sc().statusStore()``): task run time, GC
time, shuffle bytes, spill and failed tasks per stage.  Any job the op
launched outside a span is reported in ``unattributed``.  The engine is
lazy, so a span also contains every unmaterialized stage upstream of its
action.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field

ENGINE = "osm_cut_spark."

# (engine module, function qualname) of the nearest engine frame -> span
SPAN_OF = {
    ("extract", "extract"): "ingest.fill",
    ("extract", "finish_extract"): "extract.node_select",
    ("extract", "start_edge_probe.<locals>.run"): "extract.edge_probe",
    ("extract", "relation_closure_complete"): "extract.closure",
    ("extract", "select_relations_non_complete"): "extract.closure",
    ("cut_job", "load_docs"): "sources.docs_read",
    ("cut_job", "run"): "extract.output",
}

SPAN_NAMES = (
    "sources.docs_read",
    "ingest.fill",
    "extract.node_select",
    "extract.edge_probe",
    "extract.closure",
    "extract.output",
    "dedup.pairs",
    "dedup.join",
)
SPAN_FIELDS = (("wall_s", "s"), ("busy_s", "s"), ("jobs", "count"),
               ("shuffle_write_mb", "MB"), ("gc_s", "s"))

# driver-side engine calls timed directly: (module, attribute) -> metric
DRIVER_CALLS = {
    ("osm_cut_spark.sources.poly", "compile_poly"): "sources.poly_read_s",
    ("osm_cut_spark.operators.extract", "auto_cover"): "functions.cover_s",
    ("osm_cut_spark.operators.extract", "make_point_selector"): "extract.selector_build_s",
}

# every per-layer metric and its unit; a layer a workload skips reports 0
LAYER_UNITS = {f"{n}.{f}": u for n in SPAN_NAMES for f, u in SPAN_FIELDS}
LAYER_UNITS.update({m: "s" for m in DRIVER_CALLS.values()})
LAYER_UNITS.update({
    "extract.node_select.arrow_rows": "count",
    "extract.edge_probe.driver_rows": "count",
    "extract.closure.driver_rows": "count",
    "extract.output.rows": "count",
    "sources.sink_mb": "MB",
    "dedup.pairs.rows": "count",
    "dedup.join.rows": "count",
    "dedup.dropped_buckets": "count",
    "session.jobs_per_op": "count",
    "session.idle_core_frac": "ratio",
    "session.driver_self_s": "s",
    "session.spill_mb": "MB",
    "session.failed_tasks": "count",
    "session.unattributed_jobs": "count",
    "session.leaked_persists": "count",
    "session.trace_overhead_s": "s",
})

MB = 1 << 20


@dataclass
class Span:
    name: str
    group: str
    t0: float
    t1: float
    rows: int | None = None
    jobs: int = 0
    busy_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0


@dataclass
class OpTrace:
    """Everything one traced op recorded."""

    t0: float
    t1: float
    spans: list[Span]
    driver_s: dict[str, float]
    arrow_rows: int
    job_ids: list[int]
    unattributed: list[str] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    def span_totals(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s.name, {"wall_s": 0.0, "busy_s": 0.0, "jobs": 0,
                                        "shuffle_write_mb": 0.0, "gc_s": 0.0,
                                        "driver_rows": 0})
            t["wall_s"] += s.t1 - s.t0
            t["busy_s"] += s.busy_s
            t["jobs"] += s.jobs
            t["shuffle_write_mb"] += s.shuffle_write_mb
            t["gc_s"] += s.gc_s
            t["driver_rows"] += s.rows or 0
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Job-group spans around engine actions for one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self.arrow_acc = self.sc.accumulator(0)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._groups = itertools.count()
        self._patches: list[tuple[object, str, object]] = []
        self._spans: list[Span] = []
        self._driver_s: dict[str, float] = {}

    # -- installation -----------------------------------------------------

    def install(self, spark) -> None:
        import importlib

        df = spark.range(1)
        for cls, names in ((type(df), ("count", "collect")),
                           (type(df.write), ("save", "parquet")),
                           (type(spark.read), ("parquet",))):
            for name in names:
                self._patch(cls, name, self._wrap_action(getattr(cls, name)))
        for (mod_name, attr), metric in DRIVER_CALLS.items():
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrap_driver_call(getattr(mod, attr), metric))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches = []

    def _patch(self, owner, name: str, wrapper) -> None:
        self._patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, wrapper)

    def default_span(self, name: str | None) -> None:
        """Span name for actions the benchmark itself calls on this thread
        (no engine frame on the stack), e.g. the sink of an op."""
        self._local.default = name

    def _span_name(self) -> str:
        f = sys._getframe(2)
        while f is not None:
            mod = f.f_globals.get("__name__", "")
            if mod.startswith(ENGINE):
                key = (mod.rsplit(".", 1)[-1], f.f_code.co_qualname)
                return SPAN_OF.get(key) or f"{mod[len(ENGINE):]}.{f.f_code.co_qualname}"
            f = f.f_back
        return getattr(self._local, "default", None) or "unnamed"

    def _wrap_action(self, orig):
        tracer, sc = self, self.sc

        @functools.wraps(orig)
        def action(*args, **kwargs):
            if getattr(tracer._local, "in_action", False):
                return orig(*args, **kwargs)
            span = Span(tracer._span_name(), f"perfbench-{next(tracer._groups)}", 0.0, 0.0)
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", span.group)
            tracer._local.in_action = True
            span.t0 = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
                if isinstance(out, list):
                    span.rows = len(out)
                elif isinstance(out, int):
                    span.rows = out
                return out
            finally:
                span.t1 = time.perf_counter()
                tracer._local.in_action = False
                sc.setLocalProperty("spark.jobGroup.id", prev)
                with tracer._lock:
                    tracer._spans.append(span)

        return action

    def _wrap_driver_call(self, orig, metric: str):
        tracer = self
        inject_acc = metric == "extract.selector_build_s"

        @functools.wraps(orig)
        def call(*args, **kwargs):
            if inject_acc and kwargs.get("arrow_rows_acc") is None and len(args) < 6:
                kwargs["arrow_rows_acc"] = tracer.arrow_acc
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                with tracer._lock:
                    tracer._driver_s[metric] = (
                        tracer._driver_s.get(metric, 0.0) + time.perf_counter() - t0
                    )

        return call

    # -- per-op collection ---------------------------------------------------

    def begin_op(self) -> None:
        with self._lock:
            self._spans, self._driver_s = [], {}
        self._first_job = self._dag.nextJobId()
        self._arrow0 = self.arrow_acc.value

    def end_op(self, t0: float, t1: float) -> OpTrace:
        """Read back the op that ran over [t0, t1].  Call after the op's
        actions (and any engine threads) have returned."""
        self._bus.waitUntilEmpty(60_000)
        job_ids = list(range(self._first_job, self._dag.nextJobId()))
        with self._lock:
            spans, driver_s = list(self._spans), dict(self._driver_s)
        grouped: set[int] = set()
        seen_stages: set[int] = set()
        tracker = self.sc.statusTracker()
        for span in spans:
            jobs = tracker.getJobIdsForGroup(span.group)
            span.jobs = len(jobs)
            grouped.update(jobs)
            for jid in jobs:
                self._add_stages(span, jid, seen_stages)
        unattributed = []
        for jid in job_ids:
            if jid not in grouped:
                jd = self._store.job(jid)
                unattributed.append(f"{jid}: {jd.name()}")
        return OpTrace(
            t0=t0,
            t1=t1,
            spans=spans,
            driver_s=driver_s,
            arrow_rows=self.arrow_acc.value - self._arrow0,
            job_ids=job_ids,
            unattributed=unattributed,
        )

    def _add_stages(self, span: Span, jid: int, seen: set[int]) -> None:
        stage_ids = self._store.job(jid).stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen:
                continue
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its work is counted where it ran
            seen.add(sid)
            span.busy_s += sd.executorRunTime() / 1000.0
            span.gc_s += sd.jvmGcTime() / 1000.0
            span.shuffle_write_mb += sd.shuffleWriteBytes() / MB
            span.spill_mb += sd.diskBytesSpilled() / MB
            span.failed_tasks += sd.numFailedTasks()


def layer_metrics(op: OpTrace, cores: int) -> dict[str, float]:
    """Flatten one traced op into the per-layer metric names."""
    out: dict[str, float] = {}
    totals = op.span_totals()
    for name in SPAN_NAMES:
        t = totals.get(name, {})
        for fld, _unit in SPAN_FIELDS:
            out[f"{name}.{fld}"] = t.get(fld, 0)
    for metric in DRIVER_CALLS.values():
        out[metric] = op.driver_s.get(metric, 0.0)
    out["extract.node_select.arrow_rows"] = op.arrow_rows
    out["extract.edge_probe.driver_rows"] = totals.get("extract.edge_probe", {}).get("driver_rows", 0)
    out["extract.closure.driver_rows"] = totals.get("extract.closure", {}).get("driver_rows", 0)
    busy = sum(s.busy_s for s in op.spans)
    covered = _covered([(s.t0, s.t1) for s in op.spans], op.t0, op.t1)
    out["session.jobs_per_op"] = len(op.job_ids)
    out["session.idle_core_frac"] = 1.0 - busy / (op.wall_s * cores)
    out["session.driver_self_s"] = op.wall_s - covered
    out["session.spill_mb"] = sum(s.spill_mb for s in op.spans)
    out["session.failed_tasks"] = sum(s.failed_tasks for s in op.spans)
    out["session.unattributed_jobs"] = len(op.unattributed)
    return out
