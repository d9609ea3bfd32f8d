"""Spans and Spark counters for the traced run.

Spans are recorded from outside the program: ``Tracer.wrap_class`` replaces
the public methods of a class with wrappers that open a span named
``<layer>.<method>``, and the workloads open client spans around their own
calls.  Spans stay in memory and are written out when the run ends.

``SparkCounters`` attributes Spark work to a span: a job group around the
call gives its jobs, stages, tasks and shuffle bytes through the status
tracker, and ``CodeGenerator`` / ``CodegenMetrics`` give codegen compiles
and compile time.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._patched: list[tuple[type, str, object]] = []
        # recorded on every span, so figures can be taken from one phase
        self.phase = "setup"

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span.  The yielded dict is the span record, so the
        caller can attach counters to it."""
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name, "phase": self.phase,
               "parent": stack[-1] if stack else None, **attrs}
        stack.append(rec["id"])
        rec["start"] = self.clock()
        try:
            yield rec
        finally:
            rec["end"] = self.clock()
            stack.pop()
            self.spans.append(rec)

    def wrap_class(self, cls: type, layer: str, hooks: dict | None = None) -> None:
        """Wrap every public method defined on ``cls`` (not inherited,
        not static, class or property) in a span ``<layer>.<name>``.  A
        span of a call that returns a list or tuple records its length as
        ``n``; ``hooks[name](rec, args, result)`` may record more."""
        for name, attr in list(vars(cls).items()):
            if name.startswith("_") or not callable(attr):
                continue
            if isinstance(attr, (staticmethod, classmethod, type)):
                continue
            self._patched.append((cls, name, attr))
            hook = (hooks or {}).get(name)
            setattr(cls, name, self._wrapper(attr, f"{layer}.{name}", hook))

    def _wrapper(self, fn, span_name: str, hook=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name) as rec:
                result = fn(*args, **kwargs)
                if isinstance(result, (list, tuple)):
                    rec["n"] = len(result)
                if hook is not None:
                    hook(rec, args, result)
                return result

        return traced

    def unwrap(self) -> None:
        for cls, name, attr in reversed(self._patched):
            setattr(cls, name, attr)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def calibrate(self, n: int = 20000) -> float:
        """Seconds one wrapped call adds over a plain call, measured on a
        no-op method with this tracer's own wrapper."""
        probe = Tracer(self.clock)

        class _Probe:
            def noop(self):
                return None

        plain = _Probe()
        t = time.perf_counter()
        for _ in range(n):
            plain.noop()
        base = time.perf_counter() - t
        probe.wrap_class(_Probe, "probe")
        try:
            t = time.perf_counter()
            for _ in range(n):
                plain.noop()
            wrapped = time.perf_counter() - t
        finally:
            probe.unwrap()
        return max(wrapped - base, 0.0) / n


class SparkCounters:
    """Per-call Spark counters read from the driver's status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._codegen_time = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._groups = itertools.count()
        self.bookkeeping_s = 0.0

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile seconds so far) in this JVM."""
        return (
            int(self._codegen_hist.getCount()),
            self._codegen_time.compileTime() / 1e9,
        )

    @contextmanager
    def group(self, rec: dict, codegen: bool = False, shuffle: bool = False):
        """Attribute the Spark work run inside the block to span ``rec``:
        ``spark_jobs``, ``spark_stages`` and ``spark_tasks`` (stages and
        tasks that ran, not ones skipped by reuse), and optionally codegen
        compiles/seconds and shuffle bytes written."""
        t = time.perf_counter()
        gid = f"perfbench-{next(self._groups)}"
        self.sc.setJobGroup(gid, gid)
        before = self.codegen() if codegen else None
        self.bookkeeping_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            if before is not None:
                after = self.codegen()
                rec["codegen_compiles"] = after[0] - before[0]
                rec["codegen_s"] = after[1] - before[1]
            self.sc._jsc.clearJobGroup()
            # the status store is fed asynchronously by the listener bus
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            rec.update(self._job_counts(gid, shuffle))
            self.bookkeeping_s += time.perf_counter() - t

    def _job_counts(self, gid: str, shuffle: bool) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages = tasks = 0
        shuffle_bytes = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                if st is None or st.numCompletedTasks == 0:
                    continue
                stages += 1
                tasks += st.numCompletedTasks
                if shuffle:
                    shuffle_bytes += self._shuffle_write_bytes(s)
        out = {"spark_jobs": len(jobs), "spark_stages": stages, "spark_tasks": tasks}
        if shuffle:
            out["shuffle_bytes"] = shuffle_bytes
        return out

    def _shuffle_write_bytes(self, stage_id: int) -> int:
        gw = self.sc._gateway
        data = self.sc._jsc.sc().statusStore().stageData(
            stage_id, False, gw.jvm.java.util.ArrayList(), False,
            gw.new_array(gw.jvm.double, 0),
        )
        return sum(int(data.apply(i).shuffleWriteBytes()) for i in range(data.size()))
