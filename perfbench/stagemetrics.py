"""Per-call Spark job and stage totals, read from the Spark application's status store.

A traced call is bracketed by job ids: every job whose id is above the
highest id at the call's start ran inside it, because the benchmark makes
its calls one after another. Jobs run between calls belong to none. The bracket also catches jobs submitted from
helper threads (``prepare_graph`` builds layouts from a thread pool, and a
pool thread does not inherit the caller's job group). The job group is
still set to the layer name, so the jobs carry it in Spark's own listings.

Reading the store runs no Spark job. Stage metrics reach the store through
the asynchronous listener bus, so :meth:`StageTrace.call` drains the bus
before it reads.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

MB = 1_000_000


@dataclass
class CallStats:
    """Totals over the jobs one call ran. Times are seconds, sizes MB."""

    name: str
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    collect_s: float = 0.0

    def core_busy_share(self, cores: int) -> float:
        """Executor run time over the core-seconds the call's wall time offered."""
        return self.executor_run_s / (self.wall_s * cores) if self.wall_s > 0 else 0.0


class StageTrace:
    """Collects a :class:`CallStats` per call; ``calls`` keeps them in order."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.calls: list[CallStats] = []

    # jobsList returns the retained jobs newest first (descending job id)
    def _max_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    @contextmanager
    def call(self, name: str):
        """Time the block and attach the stage totals of the jobs it ran."""
        stats = CallStats(name)
        t_open = time.perf_counter()
        last_job = self._max_job_id()
        stats.collect_s = time.perf_counter() - t_open
        self._sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield stats
        finally:
            stats.wall_s = time.perf_counter() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            t1 = time.perf_counter()
            self._collect(stats, last_job)
            stats.collect_s += time.perf_counter() - t1
            self.calls.append(stats)

    def _collect(self, stats: CallStats, last_job: int) -> None:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= last_job:
                break
            stats.jobs += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                self._add_stage(stats, stage_ids.apply(k))

    def _add_stage(self, stats: CallStats, stage_id: int) -> None:
        st = self._store.lastStageAttempt(stage_id)
        if st.status().toString() == "SKIPPED":
            return
        stats.stages += 1
        stats.tasks += st.numCompleteTasks()
        stats.executor_run_s += st.executorRunTime() / 1e3
        stats.executor_cpu_s += st.executorCpuTime() / 1e9
        stats.gc_s += st.jvmGcTime() / 1e3
        stats.shuffle_read_mb += st.shuffleReadBytes() / MB
        stats.shuffle_write_mb += st.shuffleWriteBytes() / MB
        stats.spill_mb += st.diskBytesSpilled() / MB


def superstep_stats(iteration) -> tuple[int, float, float]:
    """(supersteps, median ms, max ms) from an ``IterationDriver``'s log."""
    t = [m.t_ms for m in iteration.metrics] if iteration is not None else []
    return len(t), (statistics.median(t) if t else 0.0), (max(t) if t else 0.0)
