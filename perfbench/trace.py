"""Tracing for the benchmark's traced run.

Everything here observes the program from outside, through the calls
the benchmark makes into it: spans around those calls, Spark's status
tracker and status store read per operation, a streaming-query
listener, and a wrapper around the task engine's ``run_tasks`` that
the traced run installs (and removes) by rebinding the name in the
modules that call it. No file of the program is changed.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# modules of skdist_spark.operators that call _engine.run_tasks
ENGINE_CALLERS = ("search", "ensemble", "multiclass", "eliminate")


class Tracer:
    """Spans (name, start, end, parent, operation) and per-pass
    counters, kept in memory until the run writes them out."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float) -> None:
        self.counters[key] += value

    def take_counters(self) -> dict:
        out, self.counters = dict(self.counters), defaultdict(float)
        return out


class NullTracer:
    """The untraced run's tracer: every call is a no-op."""

    enabled = False

    @contextmanager
    def span(self, name: str, op: str | None = None):
        yield None

    def add(self, key: str, value: float) -> None:
        pass


# ---- Spark scheduler and executors ------------------------------------

def read_stages(sc, groups, t0: float, t1: float) -> dict:
    """Scheduler and executor totals of every job run under the given
    job groups, read from the status tracker and status store before
    ``spark.ui.retainedJobs`` can evict them. ``t0``/``t1`` are the
    operation's epoch-second bounds; stage intervals are clipped to
    them to split the wall into stage-busy and driver-side time."""
    from .stats import covered

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = set()
    for group in groups:
        jobs.update(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = defaultdict(float)
    out["spark.jobs"] = len(jobs)
    intervals = []
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j error: stage evicted or never attempted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["spark.failed_tasks"] += sd.numFailedTasks()
        out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
        out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["spark.gc_s"] += sd.jvmGcTime() / 1e3
        out["spark.deser_s"] += sd.executorDeserializeTime() / 1e3
        sub, done = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and done.isDefined():
            lo = max(sub.get().getTime() / 1e3, t0)
            hi = min(done.get().getTime() / 1e3, t1)
            if hi > lo:
                intervals.append((lo, hi))
    busy = covered(intervals)
    out["spark.stage_busy_s"] = busy
    out["spark.driver_gap_s"] = max(t1 - t0 - busy, 0.0)
    return dict(out)


def python_metrics(df) -> dict:
    """Python-worker SQL metrics (ArrowEvalPython, MapInPandas and the
    other Python exec nodes) of a collected DataFrame's executed plan."""
    from bench import _walk_plan

    keys = {"pythonDataSent": "python.bytes_in",
            "pythonDataReceived": "python.bytes_out",
            "pythonNumRowsReceived": "python.rows_out"}
    out = defaultdict(float)

    def visit(node):
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name = keys.get(kv._1())
            if name:
                out[name] += max(int(kv._2().value()), 0)

    _walk_plan(df._jdf.queryExecution().executedPlan(), visit)
    return dict(out)


# ---- streaming ----------------------------------------------------------

class StreamProgress(StreamingQueryListener):
    """Collects every progress event per streaming-query run."""

    def __init__(self):
        self._lock = threading.Lock()
        self._done = threading.Condition(self._lock)
        self.started: list[str] = []
        self.progress: dict = defaultdict(list)
        self.terminated: set = set()

    def onQueryStarted(self, event):
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        with self._lock:
            self.progress[str(event.progress.runId)].append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._done:
            self.terminated.add(str(event.runId))
            self._done.notify_all()

    def runs_since(self, index: int, timeout: float = 30.0) -> list[str]:
        """Run ids started since ``started[index]``, once each has
        delivered its termination event (events arrive asynchronously)."""
        deadline = time.monotonic() + timeout
        with self._done:
            runs = self.started[index:]
            while not set(runs) <= self.terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"stream runs never terminated: {runs}")
                self._done.wait(left)
            return list(runs)

    def summary(self, runs) -> dict:
        out = defaultdict(float)
        for run in runs:
            for p in self.progress.get(run, ()):
                if p.numInputRows == 0:
                    continue  # the idle poll that ends an availableNow drain
                d = p.durationMs
                out["stream.triggers"] += 1
                out["stream.trigger_ms"] += d.get("triggerExecution", 0)
                out["stream.add_batch_ms"] += d.get("addBatch", 0)
                out["stream.wal_commit_ms"] += d.get("walCommit", 0)
                out["stream.commit_ms"] += d.get("commitOffsets", 0)
                out["stream.planning_ms"] += d.get("queryPlanning", 0)
                out["stream.state_rows"] += sum(s.numRowsTotal for s in p.stateOperators)
                out["stream.state_bytes"] += sum(s.memoryUsedBytes for s in p.stateOperators)
        return dict(out)


# ---- task engine ----------------------------------------------------------

def _timed_task(work_fn, task, shared):
    """Runs on a Python worker: one engine task, timed, with the size of
    the result it sends back."""
    from pyspark import cloudpickle

    t0 = time.perf_counter()
    result = work_fn(task, shared)
    elapsed = time.perf_counter() - t0
    return result, elapsed, len(cloudpickle.dumps(result))


def instrument_engine(tracer: Tracer, cores: int):
    """Rebind ``run_tasks`` in the Dist* modules to a timing wrapper;
    returns a function that restores the original."""
    import importlib

    from pyspark import cloudpickle

    from skdist_spark.operators import _engine

    original = _engine.run_tasks

    def traced_run_tasks(sc, tasks, work_fn, shared=None, partitions="auto"):
        tasks = list(tasks)
        with tracer.span("engine.run_tasks"):
            t0 = time.perf_counter()
            results = original(sc, tasks, functools.partial(_timed_task, work_fn),
                               shared, partitions)
            wall = time.perf_counter() - t0
        compute = sum(r[1] for r in results)
        tracer.add("engine.calls", 1)
        tracer.add("engine.tasks", len(tasks))
        tracer.add("engine.run_tasks_s", wall)
        tracer.add("engine.task_compute_s", compute)
        if tasks:
            tracer.add("engine.overhead_s", wall - compute / min(cores, len(tasks)))
        tracer.add("engine.result_bytes", sum(r[2] for r in results))
        tracer.add("engine.broadcast_bytes", len(cloudpickle.dumps((tasks, shared, work_fn))))
        return [r[0] for r in results]

    modules = [importlib.import_module(f"skdist_spark.operators.{m}") for m in ENGINE_CALLERS]
    patched = [m for m in modules if getattr(m, "run_tasks", None) is original]
    for m in patched:
        m.run_tasks = traced_run_tasks

    def restore():
        for m in patched:
            m.run_tasks = original

    return restore


@contextmanager
def tracing(spark, tracer: Tracer, listener: StreamProgress, cores: int):
    """Tracing on for one pass: the engine wrapper and the stream
    listener are installed on entry and removed on exit, so untraced
    passes run the program as it is."""
    restore = instrument_engine(tracer, cores)
    spark.streams.addListener(listener)
    try:
        yield
    finally:
        spark.streams.removeListener(listener)
        restore()

