"""Spark job and stage counters read from the driver's status store.

Jobs are attributed to ops by job id: ids are assigned in submission
order, so an op owns the ids between the watermark taken when it
started and the one taken when it ended. The benchmark's session keeps
every job and stage in the store (``RETENTION_CONF``), so none is
evicted before the run reads them.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

RETENTION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.ui.retainedTasks": "1000",
    "spark.sql.ui.retainedExecutions": "100000",
}

MB = 1 << 20


def job_watermark(spark):
    """A callable returning the id the next submitted job will get."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    # py4j hands the AtomicInteger back as its current value
    return lambda: int(dag.nextJobId())


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    action_s: float = 0.0  # wall time with at least one job running

    def add(self, other: "Counters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _seq(jvm_seq) -> list:
    return [jvm_seq.apply(i) for i in range(jvm_seq.size())]


def read_store(spark) -> tuple[dict[int, tuple], dict[int, tuple]]:
    """Every job as id -> (submit_ms, end_ms, stage ids) and every stage
    that ran as id -> (tasks, run_ms, input, output, shuffle, spill)
    bytes summed over its attempts."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs: dict[int, tuple] = {}
    for job in _seq(store.jobsList(None)):
        submit = job.submissionTime()
        done = job.completionTime()
        jobs[job.jobId()] = (
            submit.get().getTime() if submit.isDefined() else None,
            done.get().getTime() if done.isDefined() else None,
            [int(s) for s in _seq(job.stageIds())],
        )
    stages: dict[int, tuple] = {}
    quantiles = getattr(store, "stageList$default$4")()
    for st in _seq(store.stageList(None, False, False, quantiles, None)):
        if st.status().toString() == "SKIPPED":
            continue
        prev = stages.get(st.stageId(), (0, 0, 0, 0, 0, 0))
        cur = (
            st.numCompleteTasks() + st.numFailedTasks(),
            st.executorRunTime(),
            st.inputBytes(),
            st.outputBytes(),
            st.shuffleReadBytes() + st.shuffleWriteBytes(),
            st.memoryBytesSpilled() + st.diskBytesSpilled(),
        )
        stages[st.stageId()] = tuple(a + b for a, b in zip(prev, cur))
    return jobs, stages


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1000


def counters(jobs: dict, stages: dict, lo: int, hi: int) -> Counters:
    """Counters of the jobs with ids in ``[lo, hi)``. A stage shared by
    several of those jobs is counted once."""
    out = Counters()
    seen: set[int] = set()
    intervals = []
    for job_id in range(lo, hi):
        if job_id not in jobs:
            continue
        submit, done, stage_ids = jobs[job_id]
        out.jobs += 1
        if submit is not None and done is not None:
            intervals.append((submit, done))
        for sid in stage_ids:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            tasks, run_ms, inp, outp, shuffle, spill = stages[sid]
            out.stages += 1
            out.tasks += tasks
            out.task_s += run_ms / 1000
            out.input_bytes += inp
            out.output_bytes += outp
            out.shuffle_bytes += shuffle
            out.spill_bytes += spill
    out.action_s = _union_seconds(intervals)
    return out
