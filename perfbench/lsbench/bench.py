"""The measuring harness shared by the workloads: ops, layer calls,
failure accounting and per-layer records."""

from __future__ import annotations

import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from . import runtime
from .sparkmetrics import GroupMetrics, JvmStatusStore, read_group
from .trace import Tracer


class Bench:
    """One run's state. With ``traced`` set, each layer call runs under
    its own Spark job group and span, and the group's job/stage/task
    metrics are read after the op ends (outside its timed interval); the
    time that bookkeeping takes is the tracing overhead."""

    def __init__(self, spark, traced: bool, session_s: float) -> None:
        self.traced = traced
        self._bind(spark)
        #: Seconds the first ``get_spark`` took (the JVM's launch included).
        self.session_s = session_s
        self.tracer = Tracer(traced)
        #: Layer name → one dict per call made while ``recording``.
        self.calls: dict[str, list[dict[str, Any]]] = defaultdict(list)
        self.recording = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.overhead_s = 0.0
        self.op_s = 0.0
        self.recorded_ops = 0
        self._pending: list[tuple[dict[str, Any], str]] = []

    def _bind(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = JvmStatusStore(self.sc) if self.traced else None

    def restart_session(self) -> float:
        """A new Spark context from ``get_spark``; returns its seconds."""
        spark, seconds = runtime.restart_session(self.spark)
        self._bind(spark)
        return seconds

    @contextmanager
    def layer(self, name: str, op: int, **extra: Any) -> Iterator[dict[str, Any]]:
        """Time one call into a layer; the yielded record can carry
        results the caller wants kept with it."""
        rec: dict[str, Any] = dict(extra, wall=0.0, m=GroupMetrics())
        gid = None
        if self.traced:
            t = time.perf_counter()
            gid = f"perfbench-{op}-{name}-{len(self._pending)}"
            self.sc.setJobGroup(gid, name)
            self.overhead_s += time.perf_counter() - t
        with self.tracer.span(name, op):
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["wall"] = time.perf_counter() - t0
                if gid is not None:
                    t = time.perf_counter()
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self._pending.append((rec, gid))
                    self.overhead_s += time.perf_counter() - t
        if self.recording:
            self.calls[name].append(rec)

    def record(self, on: bool) -> None:
        """Start or stop the timed phase: only its calls, ops and tracing
        overhead are recorded."""
        if on:
            self.overhead_s = 0.0
        self.recording = on

    def settle(self) -> None:
        """Read the Spark metrics of every layer call made since the last
        settle into its record."""
        if not self._pending:
            return
        t = time.perf_counter()
        self.store.drain()
        for rec, gid in self._pending:
            rec["m"] = read_group(self.store, gid)
        self._pending.clear()
        self.overhead_s += time.perf_counter() - t

    def leaks(self) -> str | None:
        n = self.sc._jsc.getPersistentRDDs().size()
        cached = not self.spark._jsparkSession.sharedState().cacheManager().isEmpty()
        if n or cached:
            return f"caches left behind: {n} persistent RDDs, cached plans={cached}"
        return None

    def op(
        self,
        fn: Callable[[int], Any],
        check: Callable[[Any], str | None],
    ) -> float | None:
        """Run one op and check its result. Returns its latency in
        seconds, or None when it raised, answered wrong or leaked a
        cache; every failure is counted and kept, never dropped."""
        self.attempted += 1
        op_id = self.attempted
        try:
            with self.tracer.span("op", op_id):
                t0 = time.perf_counter()
                result = fn(op_id)
                dt = time.perf_counter() - t0
            self.settle()
            problem = check(result) or self.leaks()
        except Exception as exc:  # a failing op is recorded, the run goes on
            self._pending.clear()
            problem = f"{type(exc).__name__}: {exc}\n{traceback.format_exc(limit=3)}"
        if problem:
            self.failed += 1
            self.errors.append(f"op {op_id}: {problem}")
            return None
        if self.recording:
            self.op_s += dt
            self.recorded_ops += 1
        return dt


def rounds(seconds: float, least: int) -> Iterator[int]:
    """Round numbers for a timed phase: ``least`` rounds, then more until
    ``seconds`` have passed since the first began."""
    t_end = time.perf_counter() + seconds
    i = 0
    while i < least or time.perf_counter() < t_end:
        yield i
        i += 1
