"""Spans around calls into the package, recorded from the benchmark's side.

A traced pass replaces module attributes of the package with timing
wrappers (``queries.QUERIES[name]``, ``catalog.load``, the public
functions of every ``operators`` module, ``plans.iterate``,
``plans.incremental``, ``sources.writers``, ``streaming.sinks`` and the
streaming operator modules) and restores them afterwards. Each span
records name, start, end, parent and query id, runs under its own Spark
job group so the jobs it fires can be counted through the public status
tracker, and is kept in memory until the run writes them out.

Limits of interception from outside the package:
- A name bound by a top-level ``from x import y`` inside the package keeps
  pointing at the original function, so calls through it are not seen
  (calls through a module alias such as ``R.join_dims``, or a
  function-level import, are). Spans inside the package are later work.
- Jobs a streaming query runs belong to the stream's own job group; their
  cost shows in the ``StreamingQueryListener`` progress figures instead.
- Shuffle, spill and failed-task figures come from the application status
  store behind the status tracker (``stageAttempt``), Python/Arrow kernel
  figures from the SQL metrics of the collected plan (eager jobs fired
  while building a plan are counted as jobs, not walked for kernels).
"""

from __future__ import annotations

import importlib
import inspect
import itertools
import os
import pkgutil
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "mapreduce_big_data_processing_spark"

#: modules whose public functions are wrapped, by layer prefix
LAYER_MODULES = {
    "plans.iterate": f"{PKG}.plans.iterate",
    "plans.incremental": f"{PKG}.plans.incremental",
    "sources.writers": f"{PKG}.sources.writers",
    "streaming.sinks": f"{PKG}.streaming.sinks",
    "streaming.windows": f"{PKG}.streaming.windows",
    "streaming.stateful": f"{PKG}.streaming.stateful",
}

PYTHON_ROWS = ("pythonNumRowsReceived",)
PYTHON_BYTES = ("pythonDataSent", "pythonDataReceived")


def operator_modules() -> dict[str, str]:
    ops = importlib.import_module(f"{PKG}.operators")
    return {
        f"operators.{m.name}": f"{PKG}.operators.{m.name}"
        for m in pkgutil.iter_modules(ops.__path__)
    }


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    query: str | None
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans; one instance per traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.query_id: str | None = None
        self.root: Span | None = None
        self.streaming = defaultdict(float)

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> Span:
        stack = self._stack()
        # a span opened on another thread (a foreachBatch callback) hangs
        # off the query's root span
        parent = stack[-1] if stack else self.root
        span = Span(
            next(self._ids), name, layer, parent.id if parent else None,
            self.query_id, time.perf_counter(),
        )
        span.attrs["prev_group"] = self.sc.getLocalProperty("spark.jobGroup.id")
        span.group = f"perfbench-{span.id}"
        self.sc.setLocalProperty("spark.jobGroup.id", span.group)
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        return span

    def finish(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        self.sc.setLocalProperty("spark.jobGroup.id", span.attrs.pop("prev_group"))

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        span = self.begin(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.finish(span)

    # -- interception --------------------------------------------------
    def _wrapper(self, fn, name: str, layer: str, after=None):
        tracer = self

        def traced(*args, **kwargs):
            span = tracer.begin(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.finish(span)
            if after is not None:
                after(span, args, kwargs)
            return out

        traced.__wrapped__ = fn
        return traced

    def _patch(self, owner, attr: str, new) -> None:
        old = getattr(owner, attr)
        self._undo.append(lambda: setattr(owner, attr, old))
        setattr(owner, attr, new)

    def install(self, queries_module, catalog_module) -> None:
        """Wrap the package's layer boundaries; ``uninstall`` undoes it."""
        registry = queries_module.QUERIES
        for qname, fn in list(registry.items()):
            self._undo.append(lambda k=qname, f=fn: registry.__setitem__(k, f))
            registry[qname] = self._wrapper(fn, qname, "queries.build")
        self._patch(
            catalog_module, "load",
            self._wrapper(catalog_module.load, "catalog.load", "catalog.load"),
        )
        for layer, modname in {**operator_modules(), **LAYER_MODULES}.items():
            mod = importlib.import_module(modname)
            after = self._writer_bytes if layer == "sources.writers" else None
            for attr, obj in vars(mod).copy().items():
                if attr.startswith("_") or not inspect.isfunction(obj) or obj.__module__ != modname:
                    continue
                self._patch(mod, attr, self._wrapper(obj, f"{layer}.{attr}", layer, after))
        self._patch_collect()

    def _patch_collect(self) -> None:
        """Split ``toPandas`` into Spark execution (``_collect_as_arrow``:
        jobs plus Arrow batch transfer) and the Arrow -> pandas conversion."""
        from pyspark.sql.pandas.conversion import PandasConversionMixin

        original = PandasConversionMixin._collect_as_arrow
        tracer = self

        def collect_as_arrow(df, *args, **kwargs):
            span = tracer.begin("spark.exec", "spark.exec")
            try:
                batches = original(df, *args, **kwargs)
            finally:
                tracer.finish(span)
            span.attrs["rows"] = sum(b.num_rows for b in batches)
            span.attrs["bytes"] = sum(b.nbytes for b in batches)
            return batches

        self._patch(PandasConversionMixin, "_collect_as_arrow", collect_as_arrow)

    def _writer_bytes(self, span: Span, args, kwargs) -> None:
        """Size of what a writer left at its target: a path, or a table
        name in the session's warehouse."""
        from perfbench.inputs import dir_bytes

        path = kwargs.get("path", kwargs.get("name"))
        if path is None and len(args) > 1 and isinstance(args[1], str):
            path = args[1]
        if isinstance(path, str) and not os.path.exists(path):
            path = os.path.join(warehouse_dir(self.spark), path.lower())
        if isinstance(path, str) and os.path.exists(path):
            span.attrs["bytes_written"] = dir_bytes(path)
            span.attrs["files_written"] = sum(len(f) for _r, _d, f in os.walk(path))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- Spark-side counts ---------------------------------------------
    def drain(self) -> None:
        """Wait until every posted listener event has been handled, so the
        status store and the streaming listener have seen the query."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_counts(self, span: Span) -> dict:
        """Jobs, stages, tasks and bytes of the jobs run in ``span``'s group."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = defaultdict(int)
        for job_id in st.getJobIdsForGroup(span.group):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                stage = st.getStageInfo(stage_id)
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += stage.numCompletedTasks
                out["failed_tasks"] += stage.numFailedTasks
                data = store.stageAttempt(
                    stage_id, stage.currentAttemptId, False, self._no_status, False, self._no_quantiles
                )._1()
                out["shuffle_write_bytes"] += data.shuffleWriteBytes()
                out["shuffle_read_bytes"] += data.shuffleReadBytes()
                out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
        return out

    def python_metrics(self, jdf) -> dict:
        """Sum the Python/Arrow UDF SQL metrics over the executed plan."""
        out = defaultdict(int)
        plan = jdf.queryExecution().executedPlan()
        todo, seen = [plan], 0
        while todo and seen < 5000:
            node, seen = todo.pop(), seen + 1
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                todo.append(node.executedPlan())
                continue
            if name.endswith("QueryStage"):
                todo.append(node.plan())
                continue
            metrics = node.metrics()
            for key in PYTHON_ROWS + PYTHON_BYTES:
                m = metrics.get(key)
                if m.isDefined():
                    out["rows" if key in PYTHON_ROWS else "bytes"] += m.get().value()
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
        return out


def warehouse_dir(spark) -> str:
    """Local directory of the session's managed tables."""
    from urllib.parse import urlparse

    return urlparse(spark.conf.get("spark.sql.warehouse.dir")).path


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.id] = (s.end - s.start) - covered
    return out


def streaming_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` adding micro-batch progress to the
    tracer's running totals."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            with tracer._lock:
                t = tracer.streaming
                t["batches"] += 1
                t["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
                t["addbatch_s"] += d.get("addBatch", 0) / 1000.0
                t["walcommit_s"] += d.get("walCommit", 0) / 1000.0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()
