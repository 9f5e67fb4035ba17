"""Spans around calls into the engine's layers, recorded from outside the
engine.

``Tracer.install`` rebinds the public functions of each layer to timing
wrappers in every module namespace that holds them, and ``uninstall``
puts the originals back, so an untraced run executes the engine
unchanged.  Spans are kept in memory and written when the run ends.
Spark's own accounting (jobs, stages, executor time, shuffle bytes) is
read per op from the application status store through the op's job
group.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable

from perfbench.stats import Span, union_length

PKG = "vector_database_api_spark"

# (module, attribute, span name): module-level functions at layer
# boundaries; each is rebound wherever it was imported by name
FUNCTIONS = (
    (f"{PKG}.sources.tables", "load_table", "sources.load_table"),
    (f"{PKG}.sources.tables", "chunks_table", "sources.chunks_table"),
    (f"{PKG}.functions.embedding", "text_to_vector", "functions.text_to_vector"),
    (f"{PKG}.operators.ivf", "build_ivf", "operators.build"),
    (f"{PKG}.operators.lsh", "hash_table_df", "operators.build"),
    (f"{PKG}.operators.pq", "build_pq", "operators.build"),
    (f"{PKG}.operators.sq", "build_sq", "operators.build"),
    (f"{PKG}.operators.bm25", "build_bm25_index", "operators.build"),
)


class Tracer:
    """Records spans (name, start, end, parent, op id) and per-op counters."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op_id = ""
        self._stack: list[int] = []
        self._undo: list[Callable[[], None]] = []
        self.counters: dict[str, float] = defaultdict(float)
        # cache keys read during the current op (hits are the ones that
        # existed when the op began)
        self.cache_reads: set = set()

    # -- spans ----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def _wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _rebind(self, owner: Any, attr: str, new: Any) -> None:
        old = getattr(owner, attr)
        setattr(owner, attr, new)
        self._undo.append(lambda: setattr(owner, attr, old))

    # -- install / uninstall ------------------------------------------------

    def install(self) -> None:
        """Wrap every layer boundary; ``uninstall`` restores the originals."""
        if self._undo:
            raise RuntimeError("tracer already installed")
        for mod_name in (f"{PKG}.queries", f"{PKG}.service", *(m for m, _, _ in FUNCTIONS)):
            importlib.import_module(mod_name)
        mods = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for mod_name, attr, span_name in FUNCTIONS:
            orig = getattr(sys.modules[mod_name], attr)
            wrapped = self._wrap(span_name, orig)
            for mod in mods:
                if getattr(mod, attr, None) is orig:
                    self._rebind(mod, attr, wrapped)
        self._install_registry()
        self._install_service()
        self._install_spark()

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def _install_registry(self) -> None:
        from vector_database_api_spark import queries

        cache = queries._SERVING_INDEXES
        for attr in dir(queries):
            if not attr.startswith("_cached_"):
                continue
            fn = getattr(queries, attr)
            if not callable(fn):
                continue
            self._rebind(queries, attr, self._wrap_artifact(attr, fn, cache))
        tracer = self
        cls = type(cache)
        orig_get = cls.__getitem__

        def getitem(self_, key):
            tracer.cache_reads.add(key)
            return orig_get(self_, key)

        self._rebind(cls, "__getitem__", getitem)

    def _wrap_artifact(self, attr: str, fn: Callable, cache: dict) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            keys_before = set(cache)
            with self.span(f"artifact.{attr}") as sp:
                out = fn(*args, **kwargs)
            if set(cache) - keys_before:
                sp.name = "artifact.build"
            return out

        return wrapper

    def _install_service(self) -> None:
        from vector_database_api_spark.service import VectorEngine

        for attr, name in (
            ("search", "service.search"),
            ("index_library", "service.index_library"),
        ):
            self._rebind(VectorEngine, attr, self._wrap(name, getattr(VectorEngine, attr)))

    def _install_spark(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader

        tracer = self
        orig_parquet = DataFrameReader.parquet

        @functools.wraps(orig_parquet)
        def parquet(self_, *paths, **options):
            tracer.counters["parquet_reads"] += 1
            return orig_parquet(self_, *paths, **options)

        self._rebind(DataFrameReader, "parquet", parquet)
        orig_collect = DataFrame.collect

        @functools.wraps(orig_collect)
        def collect(self_):
            with tracer.span("spark.collect"):
                rows = orig_collect(self_)
            tracer.add_phases(self_._jdf.queryExecution())
            return rows

        self._rebind(DataFrame, "collect", collect)

    # -- Catalyst and scheduler accounting ------------------------------

    def add_phases(self, qe) -> None:
        """Add a QueryExecution's tracked phase times to the op counters."""
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phase, ms = kv._1(), float(kv._2().durationMs())
            key = "analysis_ms" if phase == "analysis" else "optimize_plan_ms"
            self.counters[key] += ms

    def reset_op(self, op_id: str) -> None:
        self.op_id = op_id
        self.counters = defaultdict(float)
        self.cache_reads = set()


def stage_stats(spark, group: str, op_start_ms: float, op_end_ms: float) -> dict[str, float]:
    """Jobs, stages, tasks and executor metrics of one job group, read from
    the status store after the listener bus has drained.  ``busy_ms`` is
    the union of stage intervals inside the op's wall-clock window."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out: dict[str, float] = defaultdict(float)
    intervals = []
    for job in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            sd = store.lastStageAttempt(stage_id)
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["input_records"] += sd.inputRecords()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["output_bytes"] += sd.outputBytes()
            sub, comp = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((float(sub.get().getTime()), float(comp.get().getTime())))
    out["busy_ms"] = union_length(intervals, op_start_ms, op_end_ms)
    return dict(out)
