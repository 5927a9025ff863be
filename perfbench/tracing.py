"""Traced runs: spans around the calls into each layer, plus Spark/JVM
counters read from the outside.

A span is (name, start, end, parent, trace id).  Spans stay in memory and
are written out once, when the run ends.  A layer's time is the sum of
its spans' self times: a span's duration minus what its child spans
cover.  So the layer times of one pass add up to the pass's wall time.

`Tracer.install` wraps public functions of the program by reference, from
this file; nothing inside the program changes.  The Spark-side counters
come from the job groups each op runs under (status tracker: jobs, stages,
tasks, shuffle, spill, input rows), the QueryExecution that ran the
action (Catalyst phase times, executed-plan SQL metrics of the Python
nodes), the codegen compile counters and the JVM GC beans.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass

# Metric name -> unit; every traced run reports all of them.
PER_LAYER = {
    "construct_s": "s", "construct_jobs": "count",
    "io.read_parquet_calls": "count", "io.read_parquet_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.scan_rows": "count",
    "arrow.python_nodes": "count", "arrow.rows_to_python": "count",
    "arrow.mb_to_python": "MB", "arrow.mb_from_python": "MB",
    "collect.rows": "count",
    "scale.persistent_rdds_end": "count", "scale.cache_entries_end": "count",
    "scale.storage_mb_end": "MB",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.heap_used_mb_end": "MB",
    "store.write_calls": "count", "store.write_s": "s",
    "store.footer_count_s": "s", "store.schema_hash_s": "s",
    "store.mb_written": "MB",
    "metadata.calls": "count", "metadata.s": "s",
    "pubsub.runs": "count", "pubsub.input_resolve_s": "s",
    "pubsub.user_fn_s": "s", "pubsub.deliver_s": "s",
    "pubsub.dispatch_s": "s",
}

# Span name -> the per-layer metric its self time adds to.
SPAN_METRIC = {
    "construct": "construct_s", "io.read_parquet": "io.read_parquet_s",
    "exec.action": "exec.action_s", "store.write": "store.write_s",
    "store.footer_count": "store.footer_count_s",
    "store.schema_hash": "store.schema_hash_s", "metadata": "metadata.s",
    "pubsub.input_resolve": "pubsub.input_resolve_s",
    "pubsub.user_fn": "pubsub.user_fn_s", "pubsub.deliver": "pubsub.deliver_s",
    "pubsub.trigger": "pubsub.dispatch_s",
}
# Span name -> the per-layer call counter it bumps.
SPAN_COUNT = {"io.read_parquet": "io.read_parquet_calls",
              "store.write": "store.write_calls", "metadata": "metadata.calls",
              "pubsub.user_fn": "pubsub.runs"}
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "InPandas", "InArrow",
                "PythonUDTF", "AggregateInPandas", "WindowInPandas")
MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    trace: str = ""
    child_s: float = 0.0


class Tracer:
    """Records spans and layer counters for one run.  `enabled=False` makes
    every hook a no-op, so untraced runs pay nothing but a flag test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = ""
        self.totals: dict[str, float] = {}

    # -- spans -------------------------------------------------------------
    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               trace=self.trace_id))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        sp = self.spans[idx]
        sp.end = time.perf_counter()
        self._stack.pop()
        dur = sp.end - sp.start
        if sp.parent >= 0:
            self.spans[sp.parent].child_s += dur
        metric = SPAN_METRIC.get(sp.name)
        if metric:
            self.add(metric, dur - sp.child_s)
        counter = SPAN_COUNT.get(sp.name)
        if counter:
            self.add(counter, 1)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def add(self, metric: str, value: float) -> None:
        self.totals[metric] = self.totals.get(metric, 0.0) + value

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` with a version that runs inside a span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            idx = tracer.begin(name)
            try:
                return orig(*a, **kw)
            finally:
                tracer.end(idx)

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the program's layer entry points (by reference)."""
        if not self.enabled:
            return
        from pyspark.sql import readwriter
        from pyspark.sql.classic import dataframe

        from tabsdata_spark.io.file_io import FileDestination
        from tabsdata_spark.pubsub.engine import PubSubEngine
        from tabsdata_spark.store import metadata, table_store

        self.wrap(readwriter.DataFrameReader, "parquet", "io.read_parquet")
        for attr in ("toArrow", "toPandas", "collect", "count", "take"):
            self.wrap(dataframe.DataFrame, attr, "exec.action")
        for attr in ("parquet", "save"):
            self.wrap(readwriter.DataFrameWriter, attr, "exec.action")
        self.wrap(table_store.TableStore, "write", "store.write")
        self.wrap(table_store, "_footer_row_count", "store.footer_count")
        self.wrap(table_store, "_schema_hash", "store.schema_hash")
        for attr in ("read", "read_uri"):
            self.wrap(table_store.TableStore, attr, "pubsub.input_resolve")
        for attr, val in vars(metadata.MetadataStore).items():
            if callable(val) and not attr.startswith("_"):
                self.wrap(metadata.MetadataStore, attr, "metadata")
        self.wrap(FileDestination, "save", "pubsub.deliver")
        self.wrap(PubSubEngine, "trigger", "pubsub.trigger")

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent,
                    "trace": s.trace, "start": round(s.start, 6),
                    "end": round(s.end, 6),
                    "self_s": round(s.end - s.start - s.child_s, 6)}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, -1

    def __enter__(self):
        if self.tracer.enabled:
            self.idx = self.tracer.begin(self.name)
        return self

    def __exit__(self, *exc):
        if self.idx >= 0:
            self.tracer.end(self.idx)
        return False


# -- Spark / JVM counters ---------------------------------------------------
class SparkProbe:
    """Reads Spark and JVM state through the py4j gateway."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.codegen = self.jvm.org.apache.spark.sql.catalyst.expressions \
            .codegen.CodeGenerator
        self.codegen_metrics = self.jvm.org.apache.spark.metrics.source \
            .CodegenMetrics.METRIC_COMPILATION_TIME()
        self.mx = self.jvm.java.lang.management.ManagementFactory

    def codegen_state(self) -> tuple[int, float]:
        """(classes compiled so far, seconds spent compiling so far)."""
        return (int(self.codegen_metrics.getCount()),
                self.codegen.compileTime() / 1e9)

    def gc_s(self) -> float:
        return sum(b.getCollectionTime()
                   for b in self.mx.getGarbageCollectorMXBeans()) / 1000.0

    def jit_s(self) -> float:
        return self.mx.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def heap_used_mb(self) -> float:
        return self.mx.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB

    def job_stats(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks, shuffle write, spill and input rows of the
        jobs run under one job group (status tracker + stage data)."""
        st = self.sc.statusTracker()
        status = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_b": 0,
               "spill_b": 0, "scan_rows": 0}
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            out["jobs"] += 1
            for sid in (info.stageIds if info else []):
                try:
                    sd = status.lastStageAttempt(sid)
                except Exception:  # stage skipped or evicted from the store
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_b"] += sd.shuffleWriteBytes()
                out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["scan_rows"] += sd.inputRecords()
        return out

    def phases(self, df) -> dict[str, float]:
        """Catalyst phase seconds of the QueryExecution `df`'s action ran."""
        ph = self.conv.asJava(df._jdf.queryExecution().tracker().phases())
        return {k: ph.get(k).durationMs() / 1000.0 for k in ph.keySet()}

    def python_nodes(self, df) -> dict[str, float]:
        """Python/Arrow crossings of the executed plan and their metrics."""
        out = {"nodes": 0, "rows_in": 0, "b_to": 0, "b_from": 0}
        for node, cls in _walk(df._jdf.queryExecution().executedPlan()):
            if not any(p in cls for p in PYTHON_NODES):
                continue
            out["nodes"] += 1
            m = self.conv.asJava(node.metrics())
            if m.containsKey("pythonDataSent"):
                out["b_to"] += m.get("pythonDataSent").value()
            if m.containsKey("pythonDataReceived"):
                out["b_from"] += m.get("pythonDataReceived").value()
            out["rows_in"] += _rows_out(node.children().head())
        return out

    def scale_state(self) -> dict[str, float]:
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / MB
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        try:
            entries = cm.cachedData().size()
        except Exception:  # older layouts keep the list private
            entries = 0 if cm.isEmpty() else 1
        return {"persistent_rdds": jsc.getPersistentRDDs().size(),
                "cache_entries": entries, "storage_mb": mb}


def _walk(jnode):
    cls = jnode.getClass().getSimpleName()
    yield jnode, cls
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk(jnode.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk(jnode.plan())
        return
    it = jnode.children().iterator()
    while it.hasNext():
        yield from _walk(it.next())


def _rows_out(jnode) -> int:
    for node, _cls in _walk(jnode):
        m = node.metrics()
        if m.contains("numOutputRows"):
            return int(m.apply("numOutputRows").value())
    return 0
