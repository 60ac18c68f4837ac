"""Stage and job accounting against Spark's status store, keyed by id.

The status store keeps a bounded window of stages (``spark.ui.retainedStages``)
and evicts the oldest ones as new ones arrive, so a difference of list
lengths can go negative between two reads.  :class:`StageLedger` instead
remembers which ``(stageId, attemptId)`` pairs it has already counted and
sums the metrics of terminal stages it has not seen yet: a delta is a sum
of non-negative per-stage metrics and can never go negative, and a stage
that was still running at one read is counted at the read after it ends.

The ledger is pure Python over plain dicts so it can be tested without a
JVM; :class:`SparkStatus` is the py4j adapter that feeds it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, fields

#: Stage states after which a stage's metrics no longer change.
TERMINAL = frozenset({"COMPLETE", "FAILED", "SKIPPED"})
MIB = 1024 * 1024


@dataclass
class StageDelta:
    """Executor-side totals of the stages that finished in one bracket."""

    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "StageDelta") -> "StageDelta":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self

    @classmethod
    def of_stage(cls, s: dict) -> "StageDelta":
        """Metrics of one status-store ``StageData`` record."""
        if s["status"] == "SKIPPED":  # planned but never run: no tasks, no metrics
            return cls()
        return cls(
            stages=1,
            tasks=s["numCompleteTasks"] + s["numFailedTasks"],
            cpu_s=s["executorCpuTime"] / 1e9,
            run_s=s["executorRunTime"] / 1e3,
            gc_s=s["jvmGcTime"] / 1e3,
            shuffle_read_mb=s["shuffleReadBytes"] / MIB,
            shuffle_write_mb=s["shuffleWriteBytes"] / MIB,
            spill_mb=s["diskBytesSpilled"] / MIB,
        )


class StageLedger:
    """Counts each terminal stage attempt exactly once across reads.

    ``floor`` is the lowest stage id that may still be uncounted: every
    stage below it was terminal and counted at an earlier read, so a
    fetch only needs stages with ``stageId >= floor``.
    """

    def __init__(self) -> None:
        self.floor = 0
        self._seen: set[tuple[int, int]] = set()

    def absorb(self, stages: list[dict]) -> StageDelta:
        """Sum the stages in ``stages`` that are terminal and not yet counted."""
        delta = StageDelta()
        open_ids = []
        top = self.floor - 1
        for s in stages:
            sid = s["stageId"]
            top = max(top, sid)
            if sid < self.floor:
                continue
            if s["status"] not in TERMINAL:
                open_ids.append(sid)
                continue
            key = (sid, s["attemptId"])
            if key not in self._seen:
                self._seen.add(key)
                delta.add(StageDelta.of_stage(s))
        self.floor = min(open_ids) if open_ids else top + 1
        self._seen = {k for k in self._seen if k[0] >= self.floor}
        return delta


class JobCounter:
    """Counts job ids that appeared since the previous read."""

    def __init__(self) -> None:
        self.next_id = 0

    def absorb(self, job_ids: list[int]) -> int:
        new = [j for j in job_ids if j >= self.next_id]
        if new:
            self.next_id = max(new) + 1
        return len(new)


class SparkStatus:
    """Reads new stages and jobs from the driver's status store via py4j.

    Both status-store views are sorted by id (newest first in Spark 4), so
    a binary search finds the records at or above the ledger's floor and
    only those are serialized: one JSON string per read instead of one
    py4j round trip per field of every retained stage.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self.stages = StageLedger()
        self.jobs = JobCounter()

    def _drain(self) -> None:
        """Wait until the listener bus has applied every posted event."""
        self._jsc.listenerBus().waitUntilEmpty()

    @staticmethod
    def _tail(seq, floor: int, key) -> object:
        """The records of the id-sorted ``seq`` whose id is ``>= floor``."""
        n = seq.size()
        if n == 0:
            return seq
        newest_first = key(seq.apply(0)) > key(seq.apply(n - 1))
        lo, hi = 0, n
        while lo < hi:  # first index on the far side of ``floor``
            mid = (lo + hi) // 2
            if (key(seq.apply(mid)) >= floor) == newest_first:
                lo = mid + 1
            else:
                hi = mid
        return seq.take(lo) if newest_first else seq.drop(lo)

    def stage_delta(self) -> StageDelta:
        self._drain()
        seq = self._store.stageList(
            None, False, False, self._no_quantiles, self._empty
        )
        tail = self._tail(seq, self.stages.floor, lambda s: s.stageId())
        return self.stages.absorb(json.loads(self._json.writeValueAsString(tail)))

    def new_jobs(self) -> int:
        self._drain()
        seq = self._store.jobsList(None)
        tail = self._tail(seq, self.jobs.next_id, lambda j: j.jobId())
        ids = [tail.apply(i).jobId() for i in range(tail.size())]
        return self.jobs.absorb(ids)
