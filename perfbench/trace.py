"""Spans and Spark counters for the traced run.

A `Tracer` built with `enabled=False` records nothing, so the untraced
run pays only a few no-op context managers per request. When enabled,
every span is kept in memory, and each benchmark op runs under its own
Spark job group, set before the call that builds the DataFrame, so
eager pins and index loads inside the build are counted with the op.
After the op the tracer reads the group's jobs, stages and SQL
executions from the driver's status stores.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.stats import Span, parse_timing_ms, uncovered_ms

PYTHON_RUN_METRIC = "time to run Python workers"


class Tracer:
    def __init__(self, spark, *, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.ops: dict[str, list[dict]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._groups = 0
        self._execs_seen = 0

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, layer: str, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name, time.monotonic(), 0.0,
                 parent.id if parent else None,
                 request if request is not None else (parent.request if parent else None))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()

    def restart(self, keep: tuple[str, ...] = ()) -> None:
        """Forget spans, counts and op records (except ops in `keep`),
        so the report covers only the measured loop."""
        self.spans, self._stack = [], []
        self.counts.clear()
        self.overhead_s = 0.0
        for op in [op for op in self.ops if op not in keep]:
            del self.ops[op]

    def layer(self) -> str | None:
        return self._stack[-1].layer if self._stack else None

    @contextmanager
    def wrap(self, owner, attr: str, layer: str, counter: str | None = None):
        """Replace `owner.attr` with a version that runs inside a span
        (outermost call only, for recursive functions) and restore it on
        exit. `counter` also counts calls and milliseconds under that
        name. Does nothing when tracing is off."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            if tracer.layer() == layer:
                return orig(*a, **kw)
            t0 = time.monotonic()
            try:
                with tracer.span(layer, attr):
                    return orig(*a, **kw)
            finally:
                if counter:
                    tracer.counts[counter + ".n"] += 1
                    tracer.counts[counter + ".ms"] += (time.monotonic() - t0) * 1e3

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    # -------------------------------------------------------------- ops

    @contextmanager
    def op(self, op: str, request: int | None = None):
        """One benchmark operation: a `client` span under its own job
        group; on exit, records the op's Spark counters."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        self._groups += 1
        group = f"perfbench-{op}-{self._groups}"
        sc.setJobGroup(group, op)
        wall0 = time.time()
        try:
            with self.span("client", op, request) as s:
                yield s
        finally:
            wall1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            t0 = time.monotonic()
            self.ops[op].append(self._counters(group, wall0 * 1e3, wall1 * 1e3))
            self.overhead_s += time.monotonic() - t0

    def _counters(self, group: str, start_ms: float, end_ms: float) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed by the listener bus: drain it first
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        intervals, stage_ids = [], set()
        for j in job_ids:
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = {"wall_ms": end_ms - start_ms, "jobs": len(job_ids), "tasks": 0,
             "driver_ms": uncovered_ms(start_ms, end_ms, intervals),
             "task_wall_ms": 0.0, "executor_cpu_ms": 0.0, "shuffle_bytes": 0,
             "input_rows": 0, "python_ms": 0.0}
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is None:  # evicted from the status store
                continue
            st = store.lastStageAttempt(sid)
            c["tasks"] += st.numCompleteTasks()
            c["task_wall_ms"] += st.executorRunTime()
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["shuffle_bytes"] += st.shuffleWriteBytes()
            c["input_rows"] += st.inputRecords()
        c["python_ms"] = self._python_ms(set(job_ids))
        return c

    def _python_ms(self, job_ids: set[int]) -> float:
        """Python worker run time summed over the SQL executions whose
        jobs belong to the op, eager pins included."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        total = 0.0
        it = sql.executionsList(self._execs_seen, n - self._execs_seen).iterator()
        self._execs_seen = n
        while it.hasNext():
            e = it.next()
            jobs = {int(j) for j in e.jobs().keys().mkString(",").split(",") if j}
            if not jobs & job_ids:
                continue
            values = sql.executionMetrics(e.executionId())
            mit = e.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() == PYTHON_RUN_METRIC:
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += parse_timing_ms(v.get())
        return total


def gc_ms(spark) -> float:
    """Cumulative JVM garbage-collection time; in local mode the driver
    JVM also runs every executor thread."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))
