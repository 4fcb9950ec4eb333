"""Benchmark-side tracing: spans around calls into the engine's modules,
Spark status-store readers, and a streaming progress listener.

Nothing here edits the engine. Spans come from shims the benchmark puts
around public functions, patched only where the caller looks the name up
at call time (the ``from .sources.excel import ...`` inside each CLI
command, the ``registry.queries()`` lookups the benchmark itself makes).
Spans live in memory and are written out once, after the pass.

A span's self time is its wall time minus the part of it its child spans
cover. Spark jobs are attributed to the innermost span open when they were
submitted (one client thread, so this is exact for the benchmark's own
calls and also catches jobs that streaming threads submit), and each
layer's executor metrics are the sums over the stages of its jobs.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Layer names, one per package module family the benchmark calls into.
LAYERS = ("session", "cli", "sources", "plans", "sinks", "queries", "streaming")

#: Executor-side fields reported for every layer.
EXEC_FIELDS = (
    "exec_run_ms",
    "exec_cpu_ms",
    "driver_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_ms",
)

#: SQL plan nodes that run Python (Arrow/pandas boundary).
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "AggregateInPandas",
    "WindowInPandas",
)


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    pass_id: str
    start: float
    end: float = 0.0
    result: object = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Tracer:
    """In-memory span recorder for one pass. ``spark`` is set once the
    session exists; from then on each span also sets a Spark job group
    named after the span, so the status store labels its jobs."""

    pass_id: str
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"perfbench-{span.id}", f"{span.layer}:{span.name}")

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), layer, name, parent.id if parent else None,
                 self.pass_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, module: object, attr: str, layer: str, keep_result: bool = False) -> None:
        """Replace ``module.attr`` by a shim that records a span per call."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            with self.span(layer, attr) as s:
                out = fn(*args, **kwargs)
                if keep_result:
                    s.result = out
                return out

        self._patched.append((module, attr, fn))
        setattr(module, attr, shim)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.id]

    def self_s(self, span: Span) -> float:
        return span.wall_s - union_s(
            [(max(c.start, span.start), min(c.end, span.end))
             for c in self.children(span)])

    def driver_s(self, span: Span, jobs: list[dict]) -> float:
        """Self time of ``span`` not covered by its ``jobs`` running."""
        busy = union_s([(max(j["start"], span.start), min(j["end"], span.end))
                        for j in jobs])
        return max(0.0, self.self_s(span) - busy)

    def innermost(self, t: float) -> Span | None:
        """The deepest span open at epoch time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best


def install_engine_shims(tracer: Tracer) -> None:
    """Spans around the engine modules' public entry points, at the
    attribute each caller resolves at call time."""
    from etl_moodle_and_mass_email_sending_spark.plans import mailer, moodle
    from etl_moodle_and_mass_email_sending_spark.sinks import csv_single, smtp
    from etl_moodle_and_mass_email_sending_spark.sources import (
        csv_variants,
        excel,
        readers,
    )
    from etl_moodle_and_mass_email_sending_spark.streaming import send_stream

    tracer.wrap(excel, "read_participants_csv", "sources", keep_result=True)
    tracer.wrap(readers, "read_csv_all_string", "sources")
    tracer.wrap(csv_variants, "normalize_recipients", "sources", keep_result=True)
    tracer.wrap(moodle, "normalize_to_moodle", "plans")
    tracer.wrap(mailer, "render_messages", "plans")
    tracer.wrap(csv_single, "write_csv_single", "sinks")
    tracer.wrap(smtp, "send_all", "sinks")
    tracer.wrap(send_stream, "run_send_stream_once", "streaming")


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------


def _seq(spark, scala_seq) -> list:
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    return list(conv.asJava(scala_seq))


def read_jobs(spark) -> list[dict]:
    """Every job the status store retains, with its stages' executor
    metrics summed (each stage counted once, under its first job)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    stages = {}
    for s in _seq(spark, store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )):
        stages[s.stageId()] = {
            "num_tasks": s.numTasks(),
            "status": s.status().toString(),
            "exec_run_ms": s.executorRunTime(),
            "exec_cpu_ms": s.executorCpuTime() / 1e6,
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "gc_ms": s.jvmGcTime(),
        }
    jobs, seen = [], set()
    for j in sorted(_seq(spark, store.jobsList(None)), key=lambda j: j.jobId()):
        sub, comp = j.submissionTime(), j.completionTime()
        if not sub.isDefined():
            continue
        ids = sorted(_seq(spark, j.stageIds()))
        row = {
            "job_id": j.jobId(),
            "group": j.jobGroup().get() if j.jobGroup().isDefined() else None,
            "start": sub.get().getTime() / 1000.0,
            "end": (comp.get().getTime() if comp.isDefined()
                    else sub.get().getTime()) / 1000.0,
            "result_tasks": stages[ids[-1]]["num_tasks"] if ids and ids[-1] in stages else 0,
        }
        for f in ("exec_run_ms", "exec_cpu_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "gc_ms"):
            row[f] = 0.0
        for sid in ids:
            if sid in stages and sid not in seen:
                seen.add(sid)
                for f in row.keys() & stages[sid].keys():
                    row[f] += stages[sid][f]
        jobs.append(row)
    return jobs


_UNITS = {"ms": 1.0, "s": 1000.0, "min": 60_000.0, "h": 3_600_000.0, "ns": 1e-6}


def parse_time_ms(text: str) -> float:
    """A formatted SQL timing metric ('1.2 s', or the multi-task form
    'total (min, med, max ...)\\n8.2 s (...)') as milliseconds."""
    body = text.split("\n", 1)[-1]
    m = re.match(r"\s*([\d.,]+)\s*(ns|ms|s|min|h)\b", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def read_python_ms(spark) -> dict[int, float]:
    """Per job id: 'time to run Python workers' summed over the Python
    plan nodes of the SQL execution that ran the job."""
    sq = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out: dict[int, float] = {}
    for e in _seq(spark, sq.executionsList()):
        job_ids = list(conv.asJava(e.jobs()).keySet())
        if not job_ids:
            continue
        eid = e.executionId()
        values = conv.asJava(sq.executionMetrics(eid))
        py = 0.0
        for node in _seq(spark, sq.planGraph(eid).allNodes()):
            if node.name() not in PYTHON_NODES:
                continue
            for m in _seq(spark, node.metrics()):
                if m.name() == "time to run Python workers":
                    v = values.get(m.accumulatorId())
                    py += parse_time_ms(v) if v else 0.0
        if py:
            out[min(job_ids)] = out.get(min(job_ids), 0.0) + py
    return out


def heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak usage."""
    mx = spark._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed()
        for p in mx.getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory"
    ) / 2**20


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """span id -> jobs submitted while it was the innermost open span."""
    by_group = {f"perfbench-{s.id}": s for s in tracer.spans}
    out: dict[int, list[dict]] = {}
    for j in jobs:
        span = by_group.get(j["group"]) or tracer.innermost(j["start"])
        if span is not None:
            out.setdefault(span.id, []).append(j)
    return out


def layer_metrics(tracer: Tracer, jobs: list[dict], py_ms: dict[int, float]) -> dict[str, float]:
    """Per layer: self seconds and the executor fields (EXEC_FIELDS)."""
    per_span = attribute_jobs(tracer, jobs)
    out: dict[str, float] = {}
    for layer in LAYERS:
        out[f"{layer}.self_s"] = 0.0
        for f in EXEC_FIELDS:
            out[f"{layer}.{f}"] = 0.0
        out[f"{layer}.py_ms"] = 0.0
        out[f"{layer}.jobs"] = 0.0
    for s in tracer.spans:
        js = per_span.get(s.id, [])
        out[f"{s.layer}.self_s"] += tracer.self_s(s)
        out[f"{s.layer}.driver_ms"] += tracer.driver_s(s, js) * 1000
        out[f"{s.layer}.jobs"] += len(js)
        for j in js:
            for f in EXEC_FIELDS:
                if f in j:
                    out[f"{s.layer}.{f}"] += j[f]
            out[f"{s.layer}.py_ms"] += py_ms.get(j["job_id"], 0.0)
    return out


# --------------------------------------------------------------------------
# Streaming progress
# --------------------------------------------------------------------------

#: durationMs keys of a StreamingQueryProgress, by metric name.
STREAM_DURATIONS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
}


def make_stream_listener():
    """A StreamingQueryListener that sums per-batch durations."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressTotals(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.batches = 0
            self.totals = dict.fromkeys(STREAM_DURATIONS, 0.0)
            self.last_event = time.monotonic()

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            self.last_event = time.monotonic()

        def onQueryProgress(self, event) -> None:  # noqa: N802
            d = event.progress.durationMs
            with self.lock:
                self.batches += 1
                for k, src in STREAM_DURATIONS.items():
                    self.totals[k] += float(d.get(src, 0))
                self.last_event = time.monotonic()

        def drain(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
            """Wait until no event has arrived for ``quiet_s`` (listener
            events are delivered asynchronously)."""
            t0 = time.monotonic()
            while (time.monotonic() - self.last_event < quiet_s
                   and time.monotonic() - t0 < limit_s):
                time.sleep(0.05)

        def snapshot(self) -> dict[str, float]:
            with self.lock:
                out = {f"streaming.{k}": v for k, v in self.totals.items()}
                out["streaming.batches"] = float(self.batches)
            return out

    return ProgressTotals()
