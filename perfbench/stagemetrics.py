"""Job labels and stage-metric deltas read from Spark's status store.

The status store is kept even with ``spark.ui.enabled=false``; on Spark
4.x it is reachable as ``sc._jsc.sc().statusStore()``. A phase of the
benchmark runs under its own job group, and afterwards the jobs of that
group, their stages and the stages' task metrics are summed. Skipped
stages (shuffle output reused from an earlier job) did no work and are
not counted.
"""

from __future__ import annotations

import re
import time
from collections.abc import Iterable
from contextlib import contextmanager
from dataclasses import dataclass, fields

_BATCH_RE = re.compile(r"batch = (\d+)")


@dataclass
class StageTotals:
    """Summed metrics of the stages some set of jobs ran."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def __add__(self, other: "StageTotals") -> "StageTotals":
        return StageTotals(
            **{f.name: getattr(self, f.name) + getattr(other, f.name) for f in fields(self)}
        )


@dataclass(frozen=True)
class StageRecord:
    """One stage attempt as the status store reports it."""

    stage_id: int
    status: str
    num_tasks: int
    cpu_ns: int
    shuffle_write_bytes: int
    memory_spilled: int
    disk_spilled: int


def sum_stages(n_jobs: int, stages: Iterable[StageRecord]) -> StageTotals:
    """Totals over distinct, non-skipped stages of ``n_jobs`` jobs."""
    seen: dict[int, StageRecord] = {}
    for s in stages:
        if s.status != "SKIPPED":
            seen[s.stage_id] = s
    out = StageTotals(jobs=n_jobs, stages=len(seen))
    for s in seen.values():
        out.tasks += s.num_tasks
        out.cpu_s += s.cpu_ns / 1e9
        out.shuffle_write_bytes += s.shuffle_write_bytes
        out.spill_bytes += s.memory_spilled + s.disk_spilled
    return out


def _scala_iter(seq) -> Iterable:
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StageMetrics:
    """Labels phases with job groups and reads their stage deltas."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def _drain(self) -> None:
        # job-end events reach the status store through the listener
        # bus; wait for it so a phase's last job is visible
        self._jsc.listenerBus().waitUntilEmpty()

    def _stage(self, stage_id: int) -> StageRecord:
        sd = self._store.lastStageAttempt(stage_id)
        return StageRecord(
            stage_id=stage_id,
            status=sd.status().toString(),
            num_tasks=sd.numTasks(),
            cpu_ns=sd.executorCpuTime(),
            shuffle_write_bytes=sd.shuffleWriteBytes(),
            memory_spilled=sd.memoryBytesSpilled(),
            disk_spilled=sd.diskBytesSpilled(),
        )

    def _stages_of(self, job_ids: Iterable[int]) -> list[StageRecord]:
        out = []
        for jid in job_ids:
            for sid in _scala_iter(self._store.job(jid).stageIds()):
                out.append(self._stage(sid))
        return out

    def totals_for_group(self, group: str) -> StageTotals:
        self._drain()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        return sum_stages(len(job_ids), self._stages_of(job_ids))

    @contextmanager
    def phase(self, group: str):
        """Run the body under job group ``group`` (also its description);
        yields a dict that holds ``wall_s`` and ``totals`` once the body
        has finished."""
        result: dict = {}
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield result
        finally:
            result["wall_s"] = time.perf_counter() - t0
            self.sc._jsc.clearJobGroup()
        result["totals"] = self.totals_for_group(group)

    def stream_batches(self, run_id: str) -> dict[int, StageTotals]:
        """Stage totals per micro-batch of one streaming query. Its jobs
        run under the query's run id as job group (foreachBatch bodies
        included); the batch number is in each job's description."""
        self._drain()
        by_batch: dict[int, list[int]] = {}
        for jid in self.sc.statusTracker().getJobIdsForGroup(run_id):
            desc = self._store.job(jid).description()
            m = _BATCH_RE.search(desc.get()) if desc.isDefined() else None
            if m:
                by_batch.setdefault(int(m.group(1)), []).append(jid)
        return {
            b: sum_stages(len(jids), self._stages_of(jids))
            for b, jids in by_batch.items()
        }
