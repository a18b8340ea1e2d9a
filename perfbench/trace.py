"""Outside-in tracing for the traced run (`--trace 1`).

Layers are measured from outside the program:
- timing wrappers around public entry points record spans (name, op,
  parent span, start, end) kept in memory and written out at the end;
- after each op, Spark's own counters are read: SQL node metrics from
  the SQL status store (`planGraph` / `executionMetrics`), job, stage
  and task counts through the status tracker and the app status store,
  and driver GC time from the JVM's GarbageCollector MXBeans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import statistics
import time

import gdal_vfr_spark
from gdal_vfr_spark import driver
from gdal_vfr_spark.geo.pip import PIPJoiner
from gdal_vfr_spark.operators.merge import ParquetTable

# (name, unit) of every per-layer metric, in BENCHMARK.json order;
# RATIONALE.md maps each to the end-to-end metric and workload it
# should move. A layer a workload does not exercise reports 0.
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.jobs_per_op", "count"),
    ("session.tasks_per_op", "count"),
    ("session.sql_execs_per_op", "count"),
    ("session.driver_gc_s", "s"),
    ("scan.bytes_read", "B"),
    ("scan.files_read", "count"),
    ("scan.read_s", "s"),
    ("geo.cells.encode_s", "s"),
    ("geo.pip.index_build_s", "s"),
    ("geo.pip.broadcast_mb", "MB"),
    ("geo.pip.candidate_rows", "count"),
    ("geo.pip.hit_ratio", "ratio"),
    ("geo.pip.refine_python_s", "s"),
    ("geo.pip.worker_start_s", "s"),
    ("geo.pip.apply_s", "s"),
    ("geo.tiles.key_agg_s", "s"),
    ("geo.tiles.shuffle_bytes", "B"),
    ("operators.merge.merge_s", "s"),
    ("operators.merge.write_amp", "ratio"),
    ("driver.summary_s", "s"),
    ("host.probe_s", "s"),
    ("trace.overhead_s", "s"),
]

# the SQL node metrics read per op: (node-name prefix, metric name)
NODE_METRICS = [
    ("Scan parquet", "number of files read"),
    ("Scan parquet", "size of files read"),
    ("BroadcastHashJoin", "number of output rows"),
    ("BroadcastExchange", "data size"),
    ("ArrowEvalPython", "time to run Python workers"),
    ("ArrowEvalPython", "time to start Python workers"),
    ("ArrowEvalPython", "time to initialize Python workers"),
]

_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number in base units (s or
    bytes). Multi-task metrics read 'total (min, med, max ...)\\n<total>
    (...)'; single values read '<value> [unit]'."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class Tracer:
    """Timing wrappers around the program's public entry points. Each
    call becomes a span; spans of one op share its op id, and nested
    calls (merge inside run_batches) record their parent."""

    TARGETS = [
        (gdal_vfr_spark, "get_spark", "session.get_spark"),
        (PIPJoiner, "__init__", "geo.pip.PIPJoiner.__init__"),
        (driver, "run_batches", "driver.run_batches"),
        (ParquetTable, "merge", "operators.merge.ParquetTable.merge"),
    ]

    def __init__(self):
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    def install(self) -> None:
        for owner, attr, name in self.TARGETS:
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, ops: set | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and "end" in s and (ops is None or s["op"] in ops)
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Per-op reads of Spark's own counters. Each op runs in its own
    job group, so its jobs, stages and tasks are exactly attributable;
    its SQL executions are the ones the status store added meanwhile."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._cc = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        self._group = None
        self._n_exec = 0
        self._gc0 = 0.0

    def gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def begin(self, group: str) -> None:
        self._group = group
        self.sc.setJobGroup(group, group)
        self._n_exec = self.sql_store.executionsCount()
        self._gc0 = self.gc_seconds()

    def end(self) -> dict:
        gc = self.gc_seconds() - self._gc0
        self.sc._jsc.clearJobGroup()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._group)
        stages = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
        out = {
            "jobs": len(jobs),
            "tasks": 0,
            "output_bytes": 0,
            "shuffle_write_bytes": 0,
            "driver_gc_s": gc,
        }
        for sid in stages:
            attempts = self._cc.asJava(
                self.app_store.stageData(
                    sid, False, self.jvm.java.util.ArrayList(), False, self._no_quantiles
                )
            )
            for sd in attempts:
                out["tasks"] += sd.numCompleteTasks()
                out["output_bytes"] += sd.outputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        execs = list(self._cc.asJava(self.sql_store.executionsList()))[self._n_exec:]
        out["sql_execs"] = len(execs)
        nodes = {f"{n}|{m}": 0.0 for n, m in NODE_METRICS}
        for e in execs:
            values = self._cc.asJava(self.sql_store.executionMetrics(e.executionId()))
            graph = self.sql_store.planGraph(e.executionId())
            for node in self._cc.asJava(graph.allNodes()):
                for metric in self._cc.asJava(node.metrics()):
                    key = next(
                        (
                            f"{n}|{m}"
                            for n, m in NODE_METRICS
                            if node.name().startswith(n) and metric.name() == m
                        ),
                        None,
                    )
                    text = values.get(metric.accumulatorId())
                    if key is not None and text is not None:
                        nodes[key] += parse_metric(text)
        out["nodes"] = nodes
        return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(
    tracer: Tracer,
    per_op: list[dict],
    results: list[dict],
    prefix_s: dict,
    traced_p50: float,
    untraced_p50: float,
    probe_s: float,
    broadcast_index_bytes: int,
) -> dict:
    """Fold spans, per-op counters and prefix timings into the per-layer
    metrics of PER_LAYER. `per_op[i]` and `results[i]` describe the
    same traced op; medians are across ops. The scan-prefix and geo.*
    metrics are read only on the spatial workload, the one with prefix
    timings; layers a workload leaves idle stay 0."""
    ops = {c["op"] for c in per_op}

    def med(key):
        return _median([c[key] for c in per_op])

    def node(key):
        return _median([c["nodes"][key] for c in per_op])

    m = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    m.update({
        "session.start_s": _median(tracer.durations("session.get_spark")),
        "session.jobs_per_op": med("jobs"),
        "session.tasks_per_op": med("tasks"),
        "session.sql_execs_per_op": med("sql_execs"),
        "session.driver_gc_s": med("driver_gc_s"),
        # the scan node's own figure: a stage's input bytes miss what
        # the reader thread feeding a Python UDF reads
        "scan.bytes_read": node("Scan parquet|size of files read"),
        "scan.files_read": node("Scan parquet|number of files read"),
        "operators.merge.merge_s": _median(
            tracer.durations("operators.merge.ParquetTable.merge", ops)
        ),
        "operators.merge.write_amp": _median(
            [c["output_bytes"] / r["batch_bytes"] for c, r in zip(per_op, results)
             if "batch_bytes" in r]
        ),
        "driver.summary_s": _median(
            [c["wall_s"] - r["batch_seconds"] for c, r in zip(per_op, results)
             if "batch_seconds" in r]
        ),
        "host.probe_s": probe_s,
        "trace.overhead_s": traced_p50 - untraced_p50,
    })
    if prefix_s:
        cand = node("BroadcastHashJoin|number of output rows")
        m.update({
            "scan.read_s": prefix_s["scan"],
            "geo.cells.encode_s": prefix_s["cells"] - prefix_s["scan"],
            "geo.pip.index_build_s": _median(tracer.durations("geo.pip.PIPJoiner.__init__")),
            "geo.pip.broadcast_mb": (
                broadcast_index_bytes + node("BroadcastExchange|data size")
            ) / 1e6,
            "geo.pip.candidate_rows": cand,
            "geo.pip.hit_ratio": _median([r["hits"] for r in results]) / cand if cand else 0.0,
            "geo.pip.refine_python_s": node("ArrowEvalPython|time to run Python workers"),
            "geo.pip.worker_start_s": node("ArrowEvalPython|time to start Python workers")
            + node("ArrowEvalPython|time to initialize Python workers"),
            "geo.pip.apply_s": prefix_s["pip"] - prefix_s["cells"],
            "geo.tiles.key_agg_s": traced_p50 - prefix_s["pip"],
            "geo.tiles.shuffle_bytes": med("shuffle_write_bytes"),
        })
    return m
