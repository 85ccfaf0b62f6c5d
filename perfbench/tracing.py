"""Per-layer accounting for one benchmark run.

Spans are taken from outside the program: around the benchmark's own
calls into ``registry`` builders, ``sources``, ``sql_runner``,
``alerting`` and ``orchestrator``. Spark's counters for an operation are
read from the application status store under the job group the
benchmark set for it (``spark.ui.enabled=false`` keeps that store).
With tracing off every method is a no-op, so an untraced run executes
the same program calls and only skips the measuring.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict
from collections.abc import Iterator

from pyspark.sql import SparkSession


class Trace:
    def __init__(self, spark: SparkSession, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.cores = self.sc.defaultParallelism
        self.total: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    def add(self, key: str, value: float) -> None:
        self.total[key] += value
        self.calls[key] += 1

    def mean(self, key: str) -> float:
        """Mean per recorded call; 0 when the workload never reached the layer."""
        return self.total[key] / self.calls[key] if self.calls[key] else 0.0

    @contextlib.contextmanager
    def span(self, key: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(key, time.perf_counter() - t0)

    def _drain(self) -> None:
        # job and stage events reach the status store through the
        # listener bus, after the action that caused them has returned
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs_in(self, group: str) -> int:
        self._drain()
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def session_state(self) -> tuple[dict[str, str], int] | None:
        if not self.enabled:
            return None
        return self.spark.conf.getAll, self.sc._jsc.getPersistentRDDs().size()

    def session_changes(self, before: tuple[dict[str, str], int] | None) -> None:
        """Caller-session conf keys an operation changed, and the RDDs it
        left persisted; read before the benchmark clears any cache."""
        if before is None:
            return
        confs, rdds = before
        after_confs, after_rdds = self.session_state()
        keys = set(confs) | set(after_confs)
        self.add("registry.conf_keys_changed", sum(confs.get(k) != after_confs.get(k) for k in keys))
        self.add("spark.persisted_rdds_leaked", max(after_rdds - rdds, 0))

    def spark_counters(self, group: str, wall_s: float) -> None:
        """Jobs, executed stages, tasks, shuffle write, spill and executor
        run time of every job that ran under ``group``."""
        if not self.enabled:
            return
        self._drain()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = shuffle = spill = run_ms = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += sd.numTasks()
                shuffle += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                run_ms += sd.executorRunTime()
        self.add("spark.jobs", len(jobs))
        self.add("spark.stages", stages)
        self.add("spark.tasks", tasks)
        self.add("spark.shuffle_write_bytes", shuffle)
        self.add("spark.spill_bytes", spill)
        self.add("spark.task_run_s", run_ms / 1000)
        self.add("spark.core_seconds", self.cores * wall_s)

    def core_busy_ratio(self) -> float:
        core_s = self.total["spark.core_seconds"]
        return self.total["spark.task_run_s"] / core_s if core_s else 0.0
