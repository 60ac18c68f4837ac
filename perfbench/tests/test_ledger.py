"""Stage accounting by id: deltas never go negative and count each stage once.

Run with ``python3 -m pytest perfbench/tests -q``; needs no JVM.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ledger import JobCounter, SparkStatus, StageLedger  # noqa: E402


def stage(sid, status="COMPLETE", attempt=0, cpu_s=1.0, tasks=4):
    return {
        "stageId": sid,
        "attemptId": attempt,
        "status": status,
        "numCompleteTasks": tasks if status == "COMPLETE" else 0,
        "numFailedTasks": 0,
        "executorCpuTime": int(cpu_s * 1e9),
        "executorRunTime": 2000,
        "jvmGcTime": 10,
        "shuffleReadBytes": 1024 * 1024,
        "shuffleWriteBytes": 2 * 1024 * 1024,
        "diskBytesSpilled": 0,
    }


def test_eviction_shrinks_the_list_but_not_the_delta():
    ledger = StageLedger()
    first = ledger.absorb([stage(i) for i in range(10)])
    assert first.stages == 10 and first.cpu_s == 10.0
    # The store evicted stages 0-4 and ran 10-14: the list kept its length,
    # and a length-based delta would read 0 new stages.
    second = ledger.absorb([stage(i) for i in range(5, 15)])
    assert second.stages == 5
    assert second.tasks == 20
    assert second.shuffle_write_mb == 10.0
    # Heavier eviction: the list got shorter than before.
    third = ledger.absorb([stage(i) for i in range(14, 17)])
    assert third.stages == 2
    for delta in (first, second, third):
        assert all(v >= 0 for v in vars(delta).values())


def test_running_stage_is_counted_once_when_it_ends():
    ledger = StageLedger()
    early = ledger.absorb([stage(0), stage(1, status="ACTIVE"), stage(2)])
    assert early.stages == 2
    assert ledger.floor == 1
    late = ledger.absorb([stage(1), stage(2), stage(3)])
    assert late.stages == 2  # stage 1 now, stage 3 new; stage 2 not again
    assert ledger.absorb([stage(1), stage(2), stage(3)]).stages == 0


def test_skipped_and_reused_stages_add_nothing():
    ledger = StageLedger()
    ledger.absorb([stage(0), stage(1)])
    # A later job reuses stage 0's shuffle output: the store rewrites the
    # record as SKIPPED, and the new job's own stage is skipped as well.
    delta = ledger.absorb([stage(0, status="SKIPPED"), stage(2, status="SKIPPED"), stage(3)])
    assert delta.stages == 1 and delta.cpu_s == 1.0


def test_retried_attempt_of_an_open_stage_is_counted():
    ledger = StageLedger()
    ledger.absorb([stage(0, status="ACTIVE")])
    delta = ledger.absorb([stage(0, status="FAILED", tasks=0), stage(0, attempt=1)])
    assert delta.stages == 2


def test_job_counter_counts_new_ids_only():
    jobs = JobCounter()
    assert jobs.absorb([0, 1, 2]) == 3
    assert jobs.absorb([1, 2]) == 0
    assert jobs.absorb([3, 4, 2]) == 2


class FakeSeq:
    """The slice of the Scala ``Seq`` API that ``SparkStatus._tail`` uses."""

    def __init__(self, items):
        self.items = list(items)

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]

    def take(self, n):
        return FakeSeq(self.items[:n])

    def drop(self, n):
        return FakeSeq(self.items[n:])


def test_tail_finds_records_at_or_above_floor_in_either_order():
    for n in range(0, 9):
        ids = list(range(n))
        for floor in range(0, n + 2):
            want = [i for i in ids if i >= floor]
            up = SparkStatus._tail(FakeSeq(ids), floor, lambda x: x)
            down = SparkStatus._tail(FakeSeq(reversed(ids)), floor, lambda x: x)
            assert sorted(up.items) == want
            assert sorted(down.items) == want
