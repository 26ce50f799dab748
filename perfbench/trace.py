"""Outside-in tracing for the traced run (``--trace 1``).

Two halves, both driven from the benchmark process without touching the
engine package:

- ``Tracer`` records a span around each call into a layer: the benchmark
  wraps builder calls and the noop sink itself, and ``Tracer.patched``
  swaps the public functions of ``plans.reference_pipeline``,
  ``streaming.incremental_reference`` and the DataFrame actions/writers
  for span-recording wrappers while it is active. Spans stay in memory
  and are written out once, at the end of the run. Each span also sets a
  Spark job group, so the scheduler's jobs carry the span id. Py4J
  round-trips are counted per layer by wrapping ``send_command``.
- ``EngineCounters`` reads what the engine itself recorded for a pass:
  per-stage task metrics from the status store, per-node SQL metrics
  (plan graph + formatted metric values) from the SQL status store, and
  streaming progress from a ``StreamingQueryListener``. All of these
  work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import re
import threading
import time
from dataclasses import dataclass

@dataclass
class Span:
    id: int
    parent: int | None
    op: str | None
    name: str
    layer: str
    start: float
    end: float = 0.0

    def as_dict(self) -> dict:
        return dict(self.__dict__)


class Tracer:
    """In-memory span recorder. ``enabled`` gates every wrapper, so a
    pass runs untraced by leaving it False."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None
        self.py4j_calls: dict[str, int] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[Span] = []
        self._next_id = 0
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = (
                self._main_stack if threading.current_thread() is threading.main_thread() else []
            )
        return stack

    def current_layer(self) -> str | None:
        stack = self._stack()
        return stack[-1].layer if stack else None

    @contextlib.contextmanager
    def quiet(self):
        """Bookkeeping calls (job groups, counter reads) are not counted
        as py4j round-trips of any layer."""
        prev = getattr(self._local, "quiet", False)
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = prev

    def count_py4j(self) -> None:
        if self.enabled and not getattr(self._local, "quiet", False):
            layer = self.current_layer() or "bench"
            with self._lock:
                self.py4j_calls[layer] = self.py4j_calls.get(layer, 0) + 1

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        # a callback thread (foreachBatch) has no stack of its own: its
        # spans hang under whatever the main thread is blocked in
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self._next_id += 1
            s = Span(self._next_id, parent.id if parent else None, self.op, name, layer, time.perf_counter())
            self.spans.append(s)
        stack.append(s)
        self._set_group(str(s.id), f"{layer}:{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if stack:
                self._set_group(str(stack[-1].id), f"{stack[-1].layer}:{stack[-1].name}")
            else:
                self._set_group(None, None)

    def _set_group(self, gid: str | None, desc: str | None) -> None:
        if self._sc is not None:
            with self.quiet():
                if gid is None:  # jobs outside any span belong to no group
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                else:
                    self._sc.setJobGroup(gid, desc)

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        with self.span(name, layer):
            return fn(*args, **kwargs)

    def wrap(self, fn, name: str, layer: str):
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self):
        """Swap the layer entry points for span-recording wrappers."""
        from py4j.clientserver import ClientServerConnection
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from praw_etl_student_dropout_spark.plans import reference_pipeline as rp
        from praw_etl_student_dropout_spark.streaming import incremental_reference as ir

        targets = [
            (rp, "run_pipeline", "plans"),
            (rp, "extract", "plans"),
            (rp, "transform", "plans"),
            (rp, "load_star", "plans"),
            (rp, "query_star", "plans"),
            (rp, "csv_snapshot", "sources"),
            (rp, "idempotent_append", "sources"),
            (ir, "incremental_reference_stream", "streaming"),
            (ir, "_reference_merge_one_batch", "streaming"),
            (ir, "transform", "plans"),
            (ir, "query_star_incremental", "plans"),
            (DataFrameWriter, "parquet", "sources"),
            (DataFrameWriter, "csv", "sources"),
            (DataFrame, "collect", "spark"),
            (DataFrame, "count", "spark"),
            (DataFrame, "isEmpty", "spark"),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        send = ClientServerConnection.send_command
        tracer = self

        def counted_send(conn, command, *a, **kw):
            tracer.count_py4j()
            return send(conn, command, *a, **kw)

        try:
            for (obj, attr, layer), (_, _, orig) in zip(targets, saved):
                setattr(obj, attr, self.wrap(orig, attr, layer))
            ClientServerConnection.send_command = counted_send
            yield
        finally:
            for obj, attr, orig in saved:
                setattr(obj, attr, orig)
            ClientServerConnection.send_command = send


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (s.end - s.start) - covered
    return out


# ---------------------------------------------------------------------------
# Engine counters
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Parse a formatted SQL metric value: ``'1,234'``, ``'3.1 KiB'``,
    ``'1.6 s'``, or the multi-line ``'total (min, med, max ...)\\n82 ms
    (...)'`` form, whose total is on the second line. Times come back in
    seconds, sizes in bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# (node-name substring or None for any node, metric name) -> counter
_SQL_COUNTERS = {
    ("Scan parquet", "scan time"): "sources.scan_s",
    ("Scan parquet", "number of files read"): "sources.files_read",
    ("Scan parquet", "size of files read"): "sources.bytes_read",
    ("Scan parquet", "number of output rows"): "sources.rows_scanned",
    (None, "number of written files"): "sources.files_written",
    (None, "written output"): "sources.bytes_written",
    (None, "time to run Python workers"): "functions.python_run_s",
    (None, "time to start Python workers"): "functions.python_start_s",
    (None, "data sent to Python workers"): "functions.python_bytes_sent",
    ("WholeStageCodegen", "duration"): "operators.codegen_s",
    (None, "sort time"): "operators.sort_s",
    (None, "time in aggregation build"): "operators.agg_s",
    ("Exchange", "shuffle bytes written"): "operators.shuffle_bytes",
    ("Exchange", "shuffle records written"): "operators.shuffle_records",
    (None, "spill size"): "operators.spill_bytes",
}


class EngineCounters:
    """Reads what the engine recorded since the last ``mark()``."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.progress: list[dict] = []
        self._terminated = 0
        self._terminated_at_mark = 0
        self._listener = self._attach_listener()
        self._last_job = -1
        self._last_exec = -1
        self.mark()

    def _attach_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.progress.append({"rows": p.numInputRows, **dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                sink._terminated += 1

        listener = ProgressListener()
        self.spark.streams.addListener(listener)
        return listener

    def _wait_streams(self, queries: int, timeout: float = 30.0) -> None:
        """Listener events arrive asynchronously; a query's terminated
        event follows all its progress events, so wait for those."""
        deadline = time.monotonic() + timeout
        while self._terminated - self._terminated_at_mark < queries and time.monotonic() < deadline:
            time.sleep(0.05)

    def detach(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def _jobs(self) -> list:
        return _seq(self.spark.sparkContext._jsc.sc().statusStore().jobsList(None))

    def _executions(self) -> list:
        return _seq(self.spark._jsparkSession.sharedState().statusStore().executionsList())

    def mark(self) -> None:
        with self.tracer.quiet():
            self._last_job = max([j.jobId() for j in self._jobs()], default=self._last_job)
            self._last_exec = max([e.executionId() for e in self._executions()], default=self._last_exec)
            self.progress.clear()
            self._terminated_at_mark = self._terminated

    def read(self, stream_queries: int = 0) -> dict:
        """Counters for everything run since the last ``mark()``, once
        the events of ``stream_queries`` streaming queries are in."""
        self._wait_streams(stream_queries)
        with self.tracer.quiet():
            out = self._stage_counters()
            out.update(self._sql_counters())
        out.update(self._streaming_counters())
        self.mark()
        return out

    def _stage_counters(self) -> dict:
        from py4j.protocol import Py4JJavaError

        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = [j for j in self._jobs() if j.jobId() > self._last_job]
        stage_ids = sorted({s for j in jobs for s in _seq(j.stageIds())})
        out = dict.fromkeys(
            ["spark.stages", "spark.tasks", "spark.failed_tasks", "spark.task_run_s",
             "spark.task_cpu_s", "spark.task_gc_s", "operators.peak_mem_bytes"], 0.0)
        out["spark.jobs"] = float(len(jobs))
        stage_group = {}
        for j in jobs:
            group = j.jobGroup()
            for s in _seq(j.stageIds()):
                stage_group[s] = group.get() if group.isDefined() else None
        out["task_run_s_by_group"] = {}
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError as e:  # a stage AQE skipped never ran
                if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                    raise
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.failed_tasks"] += st.numFailedTasks()
            out["spark.task_run_s"] += st.executorRunTime() / 1e3
            by_group = out["task_run_s_by_group"]
            group = stage_group[sid]
            by_group[group] = by_group.get(group, 0.0) + st.executorRunTime() / 1e3
            out["spark.task_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.task_gc_s"] += st.jvmGcTime() / 1e3
            out["operators.peak_mem_bytes"] = max(out["operators.peak_mem_bytes"], float(st.peakExecutionMemory()))
        return out

    def _sql_counters(self) -> dict:
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = dict.fromkeys(_SQL_COUNTERS.values(), 0.0)
        out["sources.api_scans"] = 0.0
        for ex in self._executions():
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            scans_api = False
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                scans_api = scans_api or "paged_api" in name
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = next((v for (n, mn), v in _SQL_COUNTERS.items()
                                if mn == m.name() and (n is None or n in name)), None)
                    if key is None:
                        continue
                    value = values.get(m.accumulatorId())
                    if value.isDefined():
                        out[key] += parse_metric(value.get())
            out["sources.api_scans"] += scans_api
        return out

    def _streaming_counters(self) -> dict:
        def total(k: str) -> float:
            return sum(p.get(k, 0) for p in self.progress) / 1e3

        return {
            "streaming.trigger_s": total("triggerExecution"),
            "streaming.add_batch_s": total("addBatch"),
            "streaming.planning_s": total("queryPlanning"),
            "streaming.wal_commit_s": total("walCommit") + total("commitOffsets"),
            "streaming.input_rows": float(sum(p["rows"] for p in self.progress)),
            "streaming.batches": float(sum(1 for p in self.progress if p["rows"])),
        }


def _seq(java_seq) -> list:
    return [java_seq.apply(i) for i in range(java_seq.size())]
