"""Spans and per-operation Spark metrics for the traced benchmark run.

The tracer wraps the public functions and methods of the engine's layers
from outside (nothing in the package changes).  Each wrapped call records a
span: name, layer, start, end, parent span and operation id.  Spans stay in
memory and are written out once, at the end of the run.

Spark work is attributed per operation through job groups, traced or not:
the construct phase (the engine call itself, including any eager jobs) and
the execute phase (the final collect) each run under their own group, so
job, stage and task counts plus stage metrics are read per operation and
phase.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# module -> layer name used in span names and self-time metrics
LAYER_MODULES = {
    "duckdb_annsearch_spark.engine": "engine",
    "duckdb_annsearch_spark.plans": "plans",
    "duckdb_annsearch_spark.plans.rewrite": "plans",
    "duckdb_annsearch_spark.plans.rewrite_df": "plans",
    "duckdb_annsearch_spark.index.base": "index",
    "duckdb_annsearch_spark.index.flat": "index",
    "duckdb_annsearch_spark.index.ivf": "index",
    "duckdb_annsearch_spark.index.graph": "index",
    "duckdb_annsearch_spark.index.kernels": "kernels",
    "duckdb_annsearch_spark.index.streaming_build": "streaming_build",
    "duckdb_annsearch_spark.catalog": "catalog",
    "duckdb_annsearch_spark.pipeline.dedup": "pipeline",
}
LAYERS = sorted(set(LAYER_MODULES.values()))


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0


@dataclass
class SparkPhase:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    gc_ms: float = 0.0


@dataclass
class OpRecord:
    """One timed operation: walls always; trace fields only when traced."""

    kind: str
    construct_ms: float
    execute_ms: float
    traced: bool = False
    op: int | None = None
    plan_ms: float = 0.0
    construct_spark: SparkPhase = field(default_factory=SparkPhase)
    execute_spark: SparkPhase = field(default_factory=SparkPhase)

    @property
    def wall_ms(self) -> float:
        return self.construct_ms + self.execute_ms


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s last execution,
    from Spark's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    it = phases.iterator()
    while it.hasNext():
        total += float(it.next()._2().durationMs())
    return total


@contextmanager
def job_group(sc, group: str):
    """Run the block's Spark jobs under job group ``group``."""
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def spark_phase(sc, group: str) -> SparkPhase:
    """Jobs, stages, tasks and stage metrics of one job group."""
    from py4j.protocol import Py4JJavaError

    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = SparkPhase()
    stage_ids: set[int] = set()
    for jid in st.getJobIdsForGroup(group):
        out.jobs += 1
        info = st.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage was evicted from the store
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out.stages += 1
        out.tasks += int(sd.numCompleteTasks())
        out.executor_run_ms += float(sd.executorRunTime())
        out.shuffle_write_bytes += float(sd.shuffleWriteBytes())
        out.spill_bytes += float(sd.memoryBytesSpilled() + sd.diskBytesSpilled())
        out.gc_ms += float(sd.jvmGcTime())
    return out


class Tracer:
    """Records spans while ``enabled``; a disabled tracer's wrappers call
    straight through, so one run can interleave traced and untraced work."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._next_sid = 0
        self._next_op = 0
        self._lock = threading.Lock()
        # function name -> list collecting that function's return values
        self.capture: dict[str, list] = {}

    @property
    def enabled(self) -> bool:
        """Recording is per thread, so concurrent builds trace independently."""
        return getattr(self._local, "enabled", False)

    @enabled.setter
    def enabled(self, on: bool) -> None:
        self._local.enabled = on

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _new_span(self, name: str, layer: str, op: int | None) -> Span:
        st = self._stack()
        with self._lock:
            self._next_sid += 1
            sid = self._next_sid
        parent = st[-1].sid if st else None
        if op is None and st:
            op = st[-1].op
        sp = Span(sid, parent, op, name, layer, time.perf_counter())
        st.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()
        self.spans.append(sp)

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer._new_span(name, layer, None)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(sp)
            sink = tracer.capture.get(fn.__name__)
            if sink is not None:
                sink.append(out)
            return out

        return traced

    # ------------------------------------------------------------ install
    def install(self) -> None:
        """Wrap the public functions of every module in LAYER_MODULES and
        the public methods of the classes they define.  Names other modules
        imported with ``from x import f`` are rebound too."""
        import importlib

        replaced: dict[int, tuple] = {}  # id(original) -> (original, wrapper)
        for modname, layer in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            short = modname.rsplit(".", 1)[-1]
            for name, obj in list(vars(mod).items()):
                if name.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == modname:
                    w = self.wrap(obj, f"{layer}.{short}.{name}", layer)
                    setattr(mod, name, w)
                    replaced[id(obj)] = (obj, w)
                elif inspect.isclass(obj) and obj.__module__ == modname:
                    self._wrap_class(obj, layer)
        # rebind `from module import f` copies held by other modules
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname.startswith("duckdb_annsearch_spark") or mname == "__spark_entry__"):
                continue
            for name, obj in list(vars(mod).items()):
                hit = replaced.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])

    def _wrap_class(self, cls, layer: str) -> None:
        for name, attr in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            label = f"{layer}.{cls.__name__}.{name}"
            if isinstance(attr, classmethod):
                w = classmethod(self.wrap(attr.__func__, label, layer))
            elif isinstance(attr, staticmethod):
                w = staticmethod(self.wrap(attr.__func__, label, layer))
            elif inspect.isfunction(attr):
                w = self.wrap(attr, label, layer)
            else:
                continue
            setattr(cls, name, w)

    # --------------------------------------------------------- operations
    @contextmanager
    def op_span(self, kind: str):
        """Root span of one benchmark operation; yields its op id."""
        with self._lock:
            self._next_op += 1
            op = self._next_op
        sp = self._new_span(f"op.{kind}", "bench", op)
        try:
            yield op
        finally:
            self._close(sp)

    # ------------------------------------------------------------ output
    def self_times(self) -> dict[str, float]:
        """Total self time (ms) per layer: each span's duration minus the
        part of its interval its child spans cover."""
        child_ms: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_ms[sp.parent] = child_ms.get(sp.parent, 0.0) + (sp.end - sp.start)
        out: dict[str, float] = {}
        for sp in self.spans:
            own = (sp.end - sp.start) - child_ms.get(sp.sid, 0.0)
            out[sp.layer] = out.get(sp.layer, 0.0) + max(own, 0.0) * 1e3
        return out

    def span_ms(self, op: int, name_suffix: str) -> float:
        """Summed duration (ms) of op ``op``'s spans whose name ends with
        ``name_suffix``."""
        return sum(
            (sp.end - sp.start) * 1e3
            for sp in self.spans
            if sp.op == op and sp.name.endswith(name_suffix)
        )

    def dump(self, path: str) -> None:
        t0 = min((sp.start for sp in self.spans), default=0.0)
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(
                    json.dumps(
                        {
                            "id": sp.sid,
                            "parent": sp.parent,
                            "op": sp.op,
                            "name": sp.name,
                            "layer": sp.layer,
                            "start_ms": round((sp.start - t0) * 1e3, 3),
                            "end_ms": round((sp.end - t0) * 1e3, 3),
                        }
                    )
                    + "\n"
                )
