"""Traced-run instrumentation, built only from outside the program.

Nothing here edits the engine. The tracer

- wraps the public functions of the ``datasets``, ``operators``,
  ``functions`` and ``sources`` modules (and the ``DataFrameWriter``
  methods the plan code writes through) with timing wrappers. They must
  be installed before ``registry.queries()`` imports the plan modules,
  because those bind the functions by name at import time;
- tags every Spark job with a job group per query phase
  (``<run>/<query>/<phase>``) and reads job, stage and task metrics from
  the core status store and operator metrics from the SQL status store,
  once the listener bus has delivered its events;
- keeps spans (name, start, end, parent, run id) in memory and writes
  them out at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_WRITER_METHODS = ("save", "parquet", "csv", "json", "orc", "text", "saveAsTable", "insertInto")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_MB = 2**20


def _metric_value(text: str) -> float:
    """Parse one SQL-metric string from the status store: ``"1,234"`` or
    a size with unit, possibly after a ``total (min, med, max ...)``
    header line."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2) or "", 1)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Spans, counters and status-store readers for one traced run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._layer_depth: dict[str, int] = defaultdict(int)
        self.spark = None
        self.in_sink = False
        self._group: str | None = None

    def reset(self) -> None:
        """Forget spans and counters recorded so far (plan-module import
        and set-up), so the figures cover the measured loop only."""
        self.spans.clear()
        self.counters.clear()

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "run": self.run_id,
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the time its child
        spans cover, summed over all spans of that name."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    # -- job groups ----------------------------------------------------
    def set_group(self, query: str, phase: str) -> str:
        self._group = f"{self.run_id}/{query}/{phase}"
        self.spark.sparkContext.setJobGroup(self._group, phase, interruptOnCancel=True)
        return self._group

    def _jobs_in_group(self) -> int:
        if self._group is None or self.spark is None:
            return 0
        self.drain()
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self._group))

    # -- wrappers ------------------------------------------------------
    def _wrap(self, layer: str, key: str, fn, count_jobs: bool):
        """Time ``fn`` into ``<key>.calls`` / ``<key>.build_s`` (and count
        the Spark jobs it runs into ``<key>.build_jobs``). Calls nested
        inside another call of the same layer are not counted again."""
        tracer = self
        span_name = f"{layer}:{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._layer_depth[layer]:
                return fn(*args, **kwargs)
            tracer._layer_depth[layer] += 1
            jobs0 = tracer._jobs_in_group() if count_jobs else 0
            t0 = time.perf_counter()
            try:
                with tracer.span(span_name):
                    return fn(*args, **kwargs)
            finally:
                tracer._layer_depth[layer] -= 1
                tracer.counters[f"{key}.calls"] += 1
                tracer.counters[f"{key}.build_s"] += time.perf_counter() - t0
                if count_jobs:
                    tracer.counters[f"{key}.build_jobs"] += tracer._jobs_in_group() - jobs0

        return wrapper

    def _wrap_package(self, layer: str, per_module: bool) -> None:
        """Wrap every public plain function defined in the layer's modules;
        operator modules count the Spark jobs they run."""
        pkg = importlib.import_module(f"security_master_spark.{layer}")
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, obj in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or hasattr(obj, "evalType")  # a pyspark UDF wrapper
                    or inspect.isgeneratorfunction(obj)
                ):
                    continue
                key = f"{layer}.{info.name}" if per_module else layer
                setattr(mod, name, self._wrap(layer, key, obj, count_jobs=per_module))

    def install(self) -> None:
        """Wrap the layer modules. Call before ``registry.queries()``."""
        from pyspark.sql.readwriter import DataFrameWriter

        from security_master_spark import datasets

        datasets.load_table = self._wrap("datasets", "datasets.load_table", datasets.load_table, False)
        self._wrap_package("operators", per_module=True)
        self._wrap_package("functions", per_module=False)
        self._wrap_package("sources", per_module=False)

        tracer = self
        for meth in _WRITER_METHODS:
            orig = getattr(DataFrameWriter, meth)

            def make(orig=orig, meth=meth):
                @functools.wraps(orig)
                def write(self_, *args, **kwargs):
                    if tracer.in_sink:
                        return orig(self_, *args, **kwargs)
                    with tracer.span(f"sources:write.{meth}") as s:
                        out = orig(self_, *args, **kwargs)
                    tracer.counters["sources.write_calls"] += 1
                    tracer.counters["sources.write_s"] += s["end"] - s["start"]
                    return out

                return write

            setattr(DataFrameWriter, meth, make())

    # -- status stores -------------------------------------------------
    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far: the status stores are filled asynchronously, so an action's
        last stage and SQL execution end may not be recorded when it
        returns."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def job_metrics(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks and stage metrics of one job group."""
        self.drain()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = defaultdict(float)
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
                out["output_mb"] += st.outputBytes() / _MB
                for task in _seq(store.taskList(sid, st.attemptId(), 2**31 - 1)):
                    metrics = task.taskMetrics()
                    if metrics.isDefined():
                        m = metrics.get()
                        read = m.inputMetrics().recordsRead() + m.shuffleReadMetrics().recordsRead()
                        if read == 0:
                            out["empty_tasks"] += 1
        return out

    def sql_executions(self) -> int:
        self.drain()
        return self.spark._jsparkSession.sharedState().statusStore().executionsCount()

    def sql_metrics(self, first: int) -> dict[str, float]:
        """Exchanges and Python-evaluation traffic of every SQL execution
        recorded since execution number ``first``."""
        self.drain()
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = defaultdict(float)
        count = store.executionsCount()
        for ex in _seq(store.executionsList(first, max(0, count - first))):
            eid = ex.executionId()
            values = None
            for node in _seq(store.planGraph(eid).allNodes()):
                name = node.name()
                if "Exchange" in name and not name.startswith("Reused"):
                    out["exchanges"] += 1
                if not re.search(r"Python|Pandas|Arrow", name):
                    continue
                if values is None:
                    values = store.executionMetrics(eid)
                for metric in _seq(node.metrics()):
                    got = values.get(metric.accumulatorId())
                    if not got.isDefined():
                        continue
                    label = metric.name()
                    if label == "number of output rows":
                        out["python_rows"] += _metric_value(got.get())
                    elif "Python workers" in label:
                        out["python_mb"] += _metric_value(got.get()) / _MB
        return out

    @staticmethod
    def catalyst_s(df) -> float:
        """Analysis + optimization + planning time from the query's own
        ``QueryExecution`` tracker (forces physical planning)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0.0
        for phase in ("analysis", "optimization", "planning"):
            got = phases.get(phase)
            if got.isDefined():
                total += got.get().durationMs() / 1e3
        return total

    def write(self, out_dir: str, stem: str, layers: dict) -> None:
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{stem}-spans.jsonl"), "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        with open(os.path.join(out_dir, f"{stem}-layers.json"), "w") as f:
            json.dump(layers, f, indent=1, sort_keys=True)


def files_since(roots: list[str], since: float) -> int:
    """Data files under ``roots`` modified at or after ``since`` (epoch s)."""
    n = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                try:
                    if os.path.getmtime(os.path.join(dirpath, f)) >= since:
                        n += 1
                except FileNotFoundError:
                    continue
    return n
