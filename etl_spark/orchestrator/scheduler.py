"""Task orchestrator — the reference's scheduler daemon
(web_scheduler.py:1289-1582) as a time-injected, testable component.

Semantics reproduced (SURVEY.md §2.10):

- T1 fixed-interval schedule (`next_run = now + interval`, :1387-1390)
- T2 cron schedule with fallback to interval on invalid expr (:1379-1390)
- T3 due-check `now >= next_run`, late runs fire once, no backlog (:1372)
- T5 in-flight dedup (`executing_tasks` set + lock, :1310-1316)
- T6 retry-on-failure with max_retries / retry_delay, consecutive-
  failure counting over the log (:1331-1369)
- T7 dependency gating — run only if every dependency's LATEST run
  succeeded (:1231-1286)
- T9 run-now manual trigger (:4994-5072)
- T10 audit logging of every run (:1099-1115)

The metadata store is the engine itself: `task_logs` is an append-only
managed Parquet table, and the gate/retry decisions are the SURVEY
§2.4/§2.5 queries (latest-per-key window + bool_and) — dogfooding the
relational layer. `now` is always passed in, so tests never sleep; the
1-second daemon loop is `run_loop`, a thin wrapper around `tick`.

Scale note: one tick issues exactly ONE small query — a single
window pass (`tick_snapshot`) yielding latest status, consecutive
failures, and last execution time per task — regardless of task
count (under AQE it runs as two jobs: the shuffle stage and the
result). The reference's per-task N+1 SELECTs (:1327-1369) collapse
into one set-based query over the whole log table.
"""

from __future__ import annotations

import time as _time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.orchestrator.cron import CronError, next_fire
from etl_spark.sources.writers import append_row

# T4: monitoring tasks with no schedule at all default to a 5-minute
# cadence (web_scheduler.py:1483-1494, :1530-1538)
DEFAULT_MONITOR_INTERVAL_S = 300

LOG_SCHEMA = (
    "task_id INT, task_name STRING, status STRING, execution_time TIMESTAMP_NTZ, "
    "details STRING"
)


@dataclass
class TaskSpec:
    task_id: int
    name: str
    fn: Callable[[SparkSession], object]
    cron: str | None = None
    interval_seconds: int | None = None
    dependencies: list[int] = field(default_factory=list)
    max_retries: int = 0
    retry_delay_seconds: int = 0
    is_active: bool = True
    # monitoring tasks fall back to the T4 default cadence when
    # neither cron nor interval is configured
    is_monitor: bool = False


@dataclass
class TaskState:
    spec: TaskSpec
    next_run: datetime | None = None
    executing: bool = False


class Orchestrator:
    def __init__(self, spark: SparkSession, db: str = "etl_meta"):
        self.spark = spark
        self.db = db
        self.tasks: dict[int, TaskState] = {}
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {db}.task_logs ({LOG_SCHEMA}) USING parquet"
        )

    # -- registration / schedule ------------------------------------------

    def register(self, spec: TaskSpec, now: datetime) -> None:
        self.tasks[spec.task_id] = TaskState(spec, next_run=self._next_run(spec, now))

    def _next_run(self, spec: TaskSpec, now: datetime) -> datetime | None:
        """T2: cron wins; invalid cron falls back to interval
        (web_scheduler.py:1379-1390)."""
        if spec.cron:
            try:
                return next_fire(spec.cron, now)
            except CronError:
                pass
        if spec.interval_seconds:
            return now + timedelta(seconds=spec.interval_seconds)
        if spec.is_monitor:
            return now + timedelta(seconds=DEFAULT_MONITOR_INTERVAL_S)
        return None

    # -- audit log (T10) ---------------------------------------------------

    def log_execution(
        self, task_id: int, status: str, now: datetime, details: str = ""
    ) -> None:
        spec = self.tasks[task_id].spec
        append_row(
            self.spark,
            f"{self.db}.task_logs",
            (task_id, spec.name, status, now, details),
        )

    def logs(self):
        return self.spark.table(f"{self.db}.task_logs")

    # -- log-derived decisions (the §2 queries) ----------------------------

    def latest_statuses(self) -> dict[int, str]:
        """W1 latest-row-per-key over task_logs (the J4 derived table,
        web_scheduler.py:4623-4634) — ONE query for all tasks."""
        w = Window.partitionBy("task_id").orderBy(F.desc("execution_time"))
        rows = (
            self.logs()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("task_id", "status")
            .collect()
        )
        return {r.task_id: r.status for r in rows}

    def consecutive_failures(self, task_id: int, lookback: int = 50) -> int:
        """A2: count of 'failed' runs since the last success
        (web_scheduler.py:1350-1362 counts failures within the last N
        ordered by recency)."""
        w = Window.partitionBy("task_id").orderBy(
            F.desc("execution_time")
        )
        rows = (
            self.logs()
            .filter(F.col("task_id") == task_id)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= lookback)
            .orderBy("rn")
            .select("status")
            .collect()
        )
        n = 0
        for r in rows:
            if r.status != "failed":
                break
            n += 1
        return n

    def tick_snapshot(
        self, lookback: int = 50
    ) -> dict[int, tuple[str, int, datetime | None]]:
        """The tick's ENTIRE log-derived state in one window query —
        {task_id: (latest_status, consecutive_failures,
        last_execution_time)}. Latest status is the rn=1 row;
        consecutive failures = (first non-failed rn) - 1, or the full
        lookback depth when every recent run failed. One query per
        tick regardless of task count (the r1 version re-ran a
        per-task consecutive_failures job for each retry-eligible
        task)."""
        w = Window.partitionBy("task_id").orderBy(F.desc("execution_time"))
        rows = (
            self.logs()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= lookback)
            .groupBy("task_id")
            .agg(
                F.max(
                    F.when(F.col("rn") == 1, F.col("status"))
                ).alias("latest_status"),
                F.max("execution_time").alias("last_time"),
                F.coalesce(
                    F.min(
                        F.when(F.col("status") != "failed", F.col("rn"))
                    )
                    - 1,
                    F.count(F.lit(1)),
                )
                .cast("int")
                .alias("consec_failures"),
            )
            .collect()
        )
        return {
            r.task_id: (r.latest_status, r.consec_failures, r.last_time) for r in rows
        }

    def can_execute(self, task_id: int, latest: dict[int, str] | None = None) -> bool:
        """T7 dependency gate: every dependency's latest run succeeded
        (A7 bool_and shape, web_scheduler.py:1231-1286). A dependency
        that never ran blocks execution (status None check :1277-1280)."""
        deps = self.tasks[task_id].spec.dependencies
        if not deps:
            return True
        if latest is None:
            latest = self.latest_statuses()
        return all(latest.get(d) == "success" for d in deps)

    # -- execution ---------------------------------------------------------

    def run_task(self, task_id: int, now: datetime) -> str:
        """T9 run-now + T5 in-flight dedup + T10 logging. Returns the
        terminal status ('success' | 'failed' | 'skipped')."""
        state = self.tasks[task_id]
        if state.executing:
            return "skipped"  # T5 (web_scheduler.py:1310-1316)
        state.executing = True
        try:
            state.spec.fn(self.spark)
        except Exception as ex:  # noqa: BLE001 — task errors become log rows
            self.log_execution(task_id, "failed", now, details=str(ex)[:500])
            return "failed"
        else:
            self.log_execution(task_id, "success", now)
            return "success"
        finally:
            state.executing = False

    def tick(self, now: datetime) -> dict[int, str]:
        """One scheduler pass (the :1289-1582 loop body). Returns
        {task_id: outcome} for every task acted on this tick."""
        outcomes: dict[int, str] = {}
        snap = self.tick_snapshot()
        latest = {tid: s[0] for tid, s in snap.items()}
        for tid, state in self.tasks.items():
            spec = state.spec
            if not spec.is_active or state.executing:
                continue
            latest_status, consec, last_t = snap.get(tid, (None, 0, None))
            # T6 retry path: failed last run, retries remaining → rerun
            # after retry_delay, independent of the regular schedule
            if (
                latest_status == "failed"
                and spec.max_retries > 0
                and 0 < consec <= spec.max_retries
            ):
                if last_t is not None and (now - last_t).total_seconds() >= (
                    spec.retry_delay_seconds
                ):
                    if self.can_execute(tid, latest):
                        outcomes[tid] = self.run_task(tid, now)
                    continue
            # T3 due check — late runs fire immediately, once
            if state.next_run is None or now < state.next_run:
                continue
            state.next_run = self._next_run(spec, now)  # :1376-1399 order
            if not self.can_execute(tid, latest):  # T7
                outcomes[tid] = "blocked"
                continue
            outcomes[tid] = self.run_task(tid, now)
        return outcomes

    def run_loop(self, tick_seconds: float = 1.0, stop_after: int | None = None) -> None:
        """The daemon loop (1 s poll, web_scheduler.py:1556). Bounded
        by ``stop_after`` ticks for controlled runs."""
        n = 0
        while stop_after is None or n < stop_after:
            self.tick(datetime.now())
            _time.sleep(tick_seconds)
            n += 1
