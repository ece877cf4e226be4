"""In-memory spans and counters for the benchmark's traced run.

Spans are recorded from the benchmark's own files, around the calls it
makes into each engine layer; the engine itself is not modified. A
:class:`Tracer` patches the layer entry points while it is installed:

- ``catalog.load_table`` (every module that imported it by name);
- ``plans.artifacts.ensure``;
- ``sources.upsert.merge_upsert``;
- ``plans.maintenance.compact_parquet``;
- ``plans.materialize.Materializer.run``, with one child span per pass
  read back from the materializer's ``last_timings``.

It also listens to streaming progress events and, after every op, reads
the op's Spark jobs and stages from the application status store (job
and stage ids are sequential, so an op owns the ids issued while it ran,
streaming micro-batch jobs included).
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

ENGINE = "streaming_data_lake_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, 0.0, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


class _ProgressListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer") -> None:
        self._tracer = tracer

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        durations = dict(p.durationMs or {})
        states = list(p.stateOperators or [])
        attrs = {
            "batch_id": p.batchId,
            "trigger_ms": durations.get("triggerExecution", 0),
            "add_batch_ms": durations.get("addBatch", 0),
            "state_commit_ms": sum(s.commitTimeMs for s in states),
            "state_rows": sum(s.numRowsTotal for s in states),
            "state_mem_bytes": sum(s.memoryUsedBytes for s in states),
            "rows_dropped_by_watermark": sum(s.numRowsDroppedByWatermark for s in states),
        }
        now = time.perf_counter()
        self._tracer.add_span("streaming.trigger", now - attrs["trigger_ms"] / 1000.0, now, attrs)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Collects spans while installed; :meth:`install` and
    :meth:`uninstall` bracket the traced part of a run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None
        self._op_root: int | None = None
        self._undo: list[tuple[object, str, object]] = []
        self._listener: _ProgressListener | None = None
        self._jsc = spark.sparkContext._jsc.sc()
        self._main_stack = self._stack()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def add_span(self, name: str, start: float, end: float, attrs: dict | None = None,
                 parent: int | None = None) -> int:
        """Record a span. Without ``parent`` it nests under the calling
        thread's open span; a span opened on another thread (streaming
        callbacks) nests under the innermost span the op has open."""
        if parent is None:
            stack = self._stack() or self._main_stack
            parent = stack[-1] if stack else self._op_root
        with self._lock:
            self.spans.append(Span(name, start, end, parent, self._op, attrs or {}))
            return len(self.spans) - 1

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span named ``name``; returns (result, index)."""
        stack = self._stack()
        idx = self.add_span(name, time.perf_counter(), 0.0)
        stack.append(idx)
        try:
            return fn(*args, **kwargs), idx
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def begin_op(self, op: int, name: str) -> int:
        self._op = op
        with self._lock:
            self.spans.append(Span("op", time.perf_counter(), 0.0, None, op, {"query": name}))
            idx = self._op_root = len(self.spans) - 1
        self._first_job = self._jsc.dagScheduler().nextJobId()
        self._first_stage = self._jsc.dagScheduler().nextStageId()
        self.spark.sparkContext.setJobGroup(f"perfbench-op-{op}", name)
        return idx

    def end_op(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        self.spans[idx].attrs.update(self._exec_counts())
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self._op = None
        self._op_root = None

    def _exec_counts(self) -> dict:
        store = self._jsc.statusStore()
        sched = self._jsc.dagScheduler()
        group = f"perfbench-op-{self._op}"
        jobs = in_group = 0
        for j in range(self._first_job, sched.nextJobId()):
            try:
                jd = store.job(j)
            except Py4JJavaError:  # evicted from the store, or never posted
                continue
            jobs += 1
            g = jd.jobGroup()
            in_group += int(g.isDefined() and g.get() == group)
        tasks = scan_rows = shuffle_bytes = spill_bytes = 0
        for s in range(self._first_stage, sched.nextStageId()):
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # stage never submitted
                continue
            tasks += sd.numCompleteTasks()
            scan_rows += sd.inputRecords()
            shuffle_bytes += sd.shuffleWriteBytes()
            spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return {
            "jobs": jobs,
            "jobs_in_group": in_group,
            "tasks": tasks,
            "scan_rows": scan_rows,
            "shuffle_bytes": shuffle_bytes,
            "spill_bytes": spill_bytes,
        }

    # -- patching --------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)[0]

        return wrapper

    def install(self) -> None:
        from streaming_data_lake_spark import catalog
        from streaming_data_lake_spark.plans import artifacts, maintenance, materialize
        from streaming_data_lake_spark.sources import upsert

        orig = catalog.load_table
        load_table = self._wrap("catalog.load_table", orig)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(ENGINE)
                    and getattr(mod, "load_table", None) is orig):
                self._patch(mod, "load_table", load_table)
        self._patch(artifacts, "ensure", self._wrap_ensure(artifacts))
        self._patch(upsert, "merge_upsert", self._wrap("upsert.merge_upsert", upsert.merge_upsert))
        self._patch(maintenance, "compact_parquet",
                    self._wrap("maint.compact_parquet", maintenance.compact_parquet))
        self._patch(materialize.Materializer, "run", self._wrap_mat_run(materialize.Materializer.run))
        self._listener = _ProgressListener(self)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        if self._listener is not None:
            self._jsc.listenerBus().waitUntilEmpty()
            self.spark.streams.removeListener(self._listener)
            self._listener = None
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def _wrap_ensure(self, artifacts):
        orig = artifacts.ensure

        @functools.wraps(orig)
        def ensure(*args, **kwargs):
            misses = artifacts.STATS["misses"]
            result, idx = self.span("artifacts.ensure", orig, *args, **kwargs)
            self.spans[idx].attrs["built"] = artifacts.STATS["misses"] > misses
            return result

        return ensure

    def _wrap_mat_run(self, orig):
        @functools.wraps(orig)
        def run(mat, *args, **kwargs):
            result, idx = self.span("mat.run", orig, mat, *args, **kwargs)
            # last_timings holds each pass's duration in the order run
            t = self.spans[idx].start
            for key, secs in (getattr(mat, "last_timings", None) or {}).items():
                self.add_span(f"mat.{key}", t, t + secs, parent=idx)
                t += secs
            return result

        return run

    # -- output ----------------------------------------------------------
    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for i, (s, self_s) in enumerate(zip(self.spans, selfs)):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "self_s": self_s, "parent": s.parent, "op": s.op, **s.attrs,
                }) + "\n")
