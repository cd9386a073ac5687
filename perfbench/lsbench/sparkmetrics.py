"""Spark job, stage and task metrics for one job group, read from the
driver's status store without the UI.

Call chain: ``statusTracker().getJobIdsForGroup`` → ``getJobInfo(j)
.stageIds`` → ``statusStore().lastStageAttempt(sid)``. A stage that was
skipped (its output reused) raises or reads ``SKIPPED``; it is counted,
not summed. The store keeps about 1000 stages, so callers read the
metrics of each group right after the call that ran it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Protocol, Sequence


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    #: Wall time during which at least one of the group's jobs ran.
    job_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class StatusStore(Protocol):
    def job_ids(self, group: str) -> Sequence[int]: ...

    def stage_ids(self, job: int) -> Sequence[int]: ...

    def job_interval(self, job: int) -> tuple[float, float] | None: ...

    def stage(self, stage: int) -> dict[str, Any]:
        """Metrics of the last attempt; raises LookupError if absent."""
        ...


def _union_length(intervals: Sequence[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def read_group(store: StatusStore, group: str) -> GroupMetrics:
    m = GroupMetrics()
    intervals = []
    seen: set[int] = set()
    for job in sorted(store.job_ids(group)):
        m.jobs += 1
        iv = store.job_interval(job)
        if iv is not None:
            intervals.append(iv)
        for sid in store.stage_ids(job):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                s = store.stage(sid)
            except LookupError:
                m.skipped_stages += 1
                continue
            if s["status"] == "SKIPPED":
                m.skipped_stages += 1
                continue
            m.stages += 1
            m.tasks += s["tasks"]
            m.executor_run_s += s["run_ms"] / 1e3
            m.executor_cpu_s += s["cpu_ns"] / 1e9
            m.gc_s += s["gc_ms"] / 1e3
            m.input_bytes += s["input_bytes"]
            m.shuffle_read_bytes += s["shuffle_read_bytes"]
            m.shuffle_write_bytes += s["shuffle_write_bytes"]
            m.spill_bytes += s["spill_bytes"]
    m.job_s = _union_length(intervals)
    return m


class JvmStatusStore:
    """:class:`StatusStore` over a live SparkContext (py4j)."""

    def __init__(self, sc) -> None:
        from py4j.protocol import Py4JJavaError

        self._err = Py4JJavaError
        self._tracker = sc.statusTracker()
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the finished jobs' final metrics."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> Sequence[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def stage_ids(self, job: int) -> Sequence[int]:
        info = self._tracker.getJobInfo(job)
        return list(info.stageIds) if info is not None else []

    def job_interval(self, job: int) -> tuple[float, float] | None:
        try:
            jd = self._store.job(job)
        except self._err:
            return None
        sub, done = jd.submissionTime(), jd.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            return None
        return sub.get().getTime() / 1e3, done.get().getTime() / 1e3

    def stage(self, stage: int) -> dict[str, Any]:
        try:
            s = self._store.lastStageAttempt(stage)
        except self._err as exc:
            raise LookupError(stage) from exc
        return {
            "status": s.status().toString(),
            "tasks": s.numCompleteTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ns": s.executorCpuTime(),
            "gc_ms": s.jvmGcTime(),
            "input_bytes": s.inputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
