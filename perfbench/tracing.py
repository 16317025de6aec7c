"""Spans and per-layer counters recorded from outside the program.

The traced run wraps the public entry points of each layer (the session's
``sql``, the pre-binders under ``glaredb_spark/functions``, ``spark.sql``,
the parquet scan helper and the Iceberg reader/writer functions) with
span-recording wrappers, and reads Spark's own SQL metrics, job/stage
counts and JVM MXBeans after every op. Nothing here edits program files;
the wrappers live only in the benchmark process and are removed by
``Tracer.restore``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import time
from collections import defaultdict

# Modules whose public functions are the session's pre-binders.
BINDER_MODULES = (
    "glaredb_spark.functions.alias_binder",
    "glaredb_spark.functions.arith_binder",
    "glaredb_spark.functions.ident_binder",
    "glaredb_spark.functions.interval_util",
    "glaredb_spark.functions.lateral_binder",
    "glaredb_spark.functions.misc_binder",
    "glaredb_spark.functions.star_binder",
    "glaredb_spark.functions.table_sql",
    "glaredb_spark.functions.unnest_binder",
)

# SQL-metric names (as Spark's plan nodes publish them) -> counter names.
SCAN_METRICS = {
    "number of files read": "scan.files_read",
    "size of files read": "scan.bytes_read",
    "number of output rows": "scan.rows_out",
    "scan time": "scan.time_ms",
}
PYUDF_METRICS = {
    "data sent to Python workers": "pyudf.bytes_sent",
    "data returned from Python workers": "pyudf.bytes_received",
    "number of output rows": "pyudf.rows_received",
}
EXCHANGE_METRICS = {"shuffle bytes written": "exec.shuffle_bytes"}
SPILL_METRICS = {"spill size": "exec.spill_bytes"}

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_metric(text: str, kind: str) -> float:
    """Value of a formatted SQL metric (Spark's UI string) in bytes, ms or
    a count. Used only when the metric's accumulator is gone."""
    line = text.strip().splitlines()[-1]
    parts = line.replace(",", "").split()
    value = float(parts[0])
    unit = parts[1] if len(parts) > 1 else ""
    if kind == "size":
        return value * _SIZE_UNITS.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return value * _TIME_UNITS.get(unit, 1.0)
    return value


class Tracer:
    """In-memory spans plus counters; every span carries the op id."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "start": t0, "end": None, "parent": parent,
             "op": self.op_id}
        )
        self._stack.append(idx)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[idx]["end"] = t1
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace the function ``owner.attr`` by a span-recording
        wrapper."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the layer entry points the workloads reach."""
        from pyspark.sql import SparkSession

        from glaredb_spark import session
        from glaredb_spark.sources import files, iceberg_native

        self.wrap(session.GlareSession, "sql", "session.sql")
        self.wrap(SparkSession, "sql", "spark.sql")
        self.wrap(files, "read_parquet", "files.read_parquet")
        for fn in ("table_metadata", "read_iceberg_native",
                   "upsert_iceberg_native", "purge_iceberg_native",
                   "write_iceberg_native"):
            self.wrap(iceberg_native, fn, f"iceberg.{fn}")
        for modname in BINDER_MODULES:
            mod = importlib.import_module(modname)
            for attr, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not attr.startswith("_")
                        and obj.__module__ == modname):
                    self.wrap(mod, attr, f"binder.{attr}")

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children
        cover (children of one span never overlap: one client thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def total(self, name: str, parent_name: str | None = None) -> float:
        """Summed duration of spans called ``name``; with ``parent_name``
        only those whose direct parent has that name."""
        tot = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if parent_name is not None and (
                s["parent"] is None
                or self.spans[s["parent"]]["name"] != parent_name
            ):
                continue
            tot += s["end"] - s["start"]
        return tot

    def count_under(self, name: str, ancestor: str) -> int:
        """Number of ``name`` spans with an ``ancestor`` span above them."""
        n = 0
        for s in self.spans:
            if s["name"] != name:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != ancestor:
                p = self.spans[p]["parent"]
            n += p is not None
        return n

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


class SparkProbe:
    """Reads what one op did inside Spark: the SQL executions it started
    (scan, Python-UDF, exchange and spill metrics of their final plans),
    the jobs of its job group with their stages and tasks, and the JVM's
    GC time and heap."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._acc = self.jvm.org.apache.spark.util.AccumulatorContext
        self._exec_seen = self._store.executionsCount()

    def begin(self, op_id: str) -> None:
        self._drain()
        self._exec_seen = self._store.executionsCount()
        self.sc.setJobGroup(op_id, op_id)

    def end(self, op_id: str, counters: dict) -> None:
        self._drain()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(op_id)
        counters["exec.jobs"] += len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            counters["exec.stages"] += len(info.stageIds)
            for st in info.stageIds:
                sinfo = tracker.getStageInfo(st)
                if sinfo is not None:
                    counters["exec.tasks"] += sinfo.numTasks
        n = self._store.executionsCount()
        if n > self._exec_seen:
            execs = self._store.executionsList(self._exec_seen,
                                               n - self._exec_seen)
            it = execs.iterator()
            while it.hasNext():
                self._plan_metrics(it.next().executionId(), counters)
        self._exec_seen = n

    def _drain(self) -> None:
        # SQL metrics reach the status store through the async listener bus
        self._bus.waitUntilEmpty()

    def _metric_value(self, metric, formatted: dict) -> float:
        acc = self._acc.get(metric.accumulatorId())
        if acc.isDefined():
            return float(acc.get().value())
        text = formatted.get(metric.accumulatorId())
        return parse_metric(text, metric.metricType()) if text else 0.0

    def _plan_metrics(self, exec_id: int, counters: dict) -> None:
        mv = self._store.executionMetrics(exec_id)
        formatted = {}
        it = mv.iterator()
        while it.hasNext():
            kv = it.next()
            formatted[kv._1()] = kv._2()
        nodes = self._store.planGraph(exec_id).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            if name.startswith("Scan"):
                table = SCAN_METRICS
            elif "Python" in name or "Arrow" in name or "Pandas" in name:
                table = PYUDF_METRICS
            elif "Exchange" in name:
                table = EXCHANGE_METRICS
            else:
                table = SPILL_METRICS
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                key = table.get(m.name()) or SPILL_METRICS.get(m.name())
                if key:
                    counters[key] += self._metric_value(m, formatted)

    def gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3

    def heap_used_mb(self) -> float:
        mem = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mem.getHeapMemoryUsage().getUsed() / 2**20
