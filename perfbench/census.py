"""Job and stage census read back from Spark's status store.

Every job submitted under a job group can be listed by group id; for each
job the store holds its submit and completion times and its stages, and
for each stage the task count, executor run and GC time, and byte
counters. This module reads those for a set of groups and sums them.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    submit_ms: float
    complete_ms: float


@dataclass
class Census:
    jobs: list[Job] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    task_busy_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "Census") -> None:
        self.jobs.extend(other.jobs)
        for name in (
            "stages", "tasks", "task_busy_s", "gc_s", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        ):
            setattr(self, name, getattr(self, name) + getattr(other, name))


def _option_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def read_groups(spark, groups: list[str]) -> dict[str, Census]:
    """One Census per job group. A stage shared by two jobs of one group
    is counted once; skipped stages (reused shuffle output) are left out,
    as the Spark UI does."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out: dict[str, Census] = {}
    for group in groups:
        c = Census()
        seen: set[int] = set()
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            jd = store.job(jid)
            submit = _option_ms(jd.submissionTime())
            complete = _option_ms(jd.completionTime())
            c.jobs.append(Job(jid, submit or 0.0, complete or submit or 0.0))
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                c.stages += 1
                c.tasks += sd.numTasks()
                c.task_busy_s += sd.executorRunTime() / 1000.0
                c.gc_s += sd.jvmGcTime() / 1000.0
                c.input_bytes += sd.inputBytes()
                c.shuffle_read_bytes += sd.shuffleReadBytes()
                c.shuffle_write_bytes += sd.shuffleWriteBytes()
                c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out[group] = c
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total

