"""Outside-in probes: spans around calls into the package's layers, and
readers for Spark's own status stores.

Nothing here edits the package. A traced run replaces selected public
functions in every ``etl_building_inspector_spark`` module namespace
that imported them by name (``load_table`` alone is imported into
about forty plan modules), so each call opens a span. Every span
becomes the Spark job group while it is open, so each job is
attributed to the innermost span that fired it. Spans stay in memory
until the run writes them out.

Spark's status stores are read over py4j after the work is done:

* ``statusStore().jobsList`` / ``stageList`` (the 5-argument form) for
  jobs, stages, task time, shuffle and spill;
* the SQL status store (``sharedState().statusStore()``) for plan-node
  metrics: ``Scan json`` output rows and the Python-evaluation nodes;
* ``queryExecution().tracker().phases()`` for Catalyst phase times;
* JMX ``GarbageCollectorMXBean`` for JVM collection time.

Scala ``Seq`` results are read with ``.size()`` / ``.apply(i)``.
"""

from __future__ import annotations

import gc
import inspect
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

PKG = "etl_building_inspector_spark"

# operator modules whose public functions a traced run wraps
OPERATOR_MODULES = ("dedup", "graph", "similarity", "spatial")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    query: int
    start: float
    end: float | None = None
    timed: bool = True

    @property
    def dur(self) -> float:
        return (self.end or time.time()) - self.start


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and costs a
    context-manager entry per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.gc_intervals: list[tuple[float, float]] = []
        self._gc_t0 = 0.0
        if enabled:
            gc.callbacks.append(self._on_gc)

    def bind(self, spark) -> None:
        """Set job groups on the context of ``spark`` from now on."""
        self._sc = spark.sparkContext

    def _on_gc(self, phase, info) -> None:
        if phase == "start":
            self._gc_t0 = time.time()
        else:
            self.gc_intervals.append((self._gc_t0, time.time()))

    @contextmanager
    def span(self, name: str, layer: str, timed: bool = True):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name, layer=layer,
            parent=parent.id if parent else None,
            query=parent.query if parent else len(self.spans),
            start=time.time(), timed=timed if parent is None else parent.timed,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1].id if self._stack else None)

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"span-{span_id}", "perfbench")

    # -- wrapping the package's public functions --------------------------

    def patch(self, target, layer: str, name: str) -> None:
        """Replace ``target`` by a span-opening wrapper in every package
        module that holds it under any name."""
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                return target(*args, **kwargs)

        wrapper.__wrapped__ = target
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is target:
                    setattr(mod, attr, wrapper)

    def patch_layers(self) -> None:
        import importlib

        from etl_building_inspector_spark.operators import _cache
        from etl_building_inspector_spark.sources import geojson, tables

        self.patch(tables.load_table, "sources", "load_table")
        for fn in ("read_consolidated", "read_toponyms", "read_sheets",
                   "read_layer_boroughs"):
            self.patch(getattr(geojson, fn), "sources", fn)
        self.patch(_cache.release_persisted, "operators", "release_persisted")
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{short}")
            for fname, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and not fname.startswith("_")
                        and fn.__module__ == mod.__name__):
                    self.patch(fn, "operators", f"{short}.{fname}")

    # -- queries over recorded spans --------------------------------------

    def ancestors(self, s: Span):
        while s is not None:
            yield s
            s = self.spans[s.parent] if s.parent is not None else None

    def root(self, s: Span) -> Span:
        *_, top = self.ancestors(s)
        return top

    def outermost(self, pred):
        """Timed spans matching ``pred`` with no ancestor matching it."""
        for s in self.spans:
            if s.timed and pred(s) and not (
                s.parent is not None
                and any(pred(a) for a in self.ancestors(self.spans[s.parent]))
            ):
                yield s

    def gc_seconds_within(self, spans) -> float:
        total = 0.0
        for s in spans:
            for a, b in self.gc_intervals:
                lo, hi = max(a, s.start), min(b, s.end)
                if hi > lo:
                    total += hi - lo
        return total


# -- Spark status stores -------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def read_jobs(spark) -> dict[int, dict]:
    """Every job the status store retains: group, times, stages."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = {}
    for j in _seq(store.jobsList(None)):
        group = j.jobGroup()
        jobs[j.jobId()] = {
            "group": group.get() if group.isDefined() else None,
            "submitted": _opt_ms(j.submissionTime()),
            "completed": _opt_ms(j.completionTime()),
            "stages": [int(x) for x in _seq(j.stageIds())],
            "tasks": j.numTasks(),
            "failed_tasks": j.numFailedTasks(),
        }
    return jobs


def read_stages(spark) -> dict[int, dict]:
    """Stage totals, summed over attempts."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out: dict[int, dict] = {}
    for s in _seq(stages):
        d = out.setdefault(s.stageId(), {
            "ran": False, "tasks": 0, "failed_tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0, "spill_b": 0,
        })
        # skipped stages (reused shuffle output) run no tasks
        d["ran"] |= s.status().toString() != "SKIPPED"
        d["tasks"] += s.numCompleteTasks()
        d["failed_tasks"] += s.numFailedTasks()
        d["run_s"] += s.executorRunTime() / 1e3
        d["cpu_s"] += s.executorCpuTime() / 1e9
        d["gc_s"] += s.jvmGcTime() / 1e3
        d["shuffle_write_b"] += s.shuffleWriteBytes()
        d["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value: '1,234', or the total line of a
    timing/size metric ('total (min, med, max ...)\\n2.1 s (...)')."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"(-?[\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# plan-node metric readers: (node-name predicate, metric name) -> key
SQL_METRICS = {
    "json_scan_rows": (lambda n: n.startswith("Scan json"), "number of output rows"),
    "python_rows": (lambda n: "Python" in n or "InPandas" in n, "number of output rows"),
    "python_run_s": (lambda n: "Python" in n or "InPandas" in n, "time to run Python workers"),
    "python_init_s": (lambda n: "Python" in n or "InPandas" in n, "time to initialize Python workers"),
}


def read_sql_metrics(spark) -> list[tuple[set[int], dict[str, float]]]:
    """``SQL_METRICS`` summed per SQL execution, with the ids of the
    jobs each execution ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _seq(store.executionsList()):
        ex_jobs = {int(j) for j in _seq(ex.jobs().keys().toSeq())}
        if not ex_jobs:
            continue
        eid = ex.executionId()
        values = store.executionMetrics(eid)
        totals = {k: 0.0 for k in SQL_METRICS}
        for node in _seq(store.planGraph(eid).allNodes()):
            name = node.name()
            keys = [k for k, (pred, _) in SQL_METRICS.items() if pred(name)]
            if not keys:
                continue
            for m in _seq(node.metrics()):
                for key in keys:
                    if m.name() == SQL_METRICS[key][1]:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            totals[key] += parse_metric(v.get())
        out.append((ex_jobs, totals))
    return out


def analysis_ms(df) -> float:
    """Catalyst analysis time of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    ph = phases.get("analysis")
    return float(ph.get().durationMs()) if ph.isDefined() else 0.0


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3


def live_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class StreamingProbe:
    """A ``StreamingQueryListener`` counting micro-batches."""

    def __init__(self):
        self.batches = 0
        self.batch_s = 0.0
        self.input_rows = 0
        self._listener = None

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                probe.batches += 1
                probe.batch_s += p.durationMs.get("triggerExecution", 0) / 1e3
                probe.input_rows += p.numInputRows

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def snapshot(self) -> tuple[int, float, int]:
        return self.batches, self.batch_s, self.input_rows
