"""M3 orchestrator tests: cron math (pure python), scheduling/retry/
dependency semantics (injected clock, Spark metadata tables)."""

from __future__ import annotations

import random
import sys
import threading
import time
from datetime import datetime, timedelta

import pytest

from etl_spark.orchestrator import Orchestrator, TaskSpec, next_fire
from etl_spark.orchestrator.cron import CronError
from etl_spark.orchestrator.scheduler import LOOKBACK


# --- cron (no Spark) -------------------------------------------------------

T0 = datetime(2024, 6, 15, 10, 30, 45)  # a Saturday


def test_cron_every_5min():
    assert next_fire("*/5 * * * *", T0) == datetime(2024, 6, 15, 10, 35)


def test_cron_hourly_and_daily():
    assert next_fire("0 * * * *", T0) == datetime(2024, 6, 15, 11, 0)
    assert next_fire("15 2 * * *", T0) == datetime(2024, 6, 16, 2, 15)


def test_cron_dow():
    # next Monday (dow 1) at 09:00 after Sat Jun 15
    assert next_fire("0 9 * * 1", T0) == datetime(2024, 6, 17, 9, 0)
    # Sunday as 7 == Sunday as 0
    assert next_fire("0 9 * * 7", T0) == next_fire("0 9 * * 0", T0)


def test_cron_month_rollover_and_lists():
    assert next_fire("0 0 1 * *", T0) == datetime(2024, 7, 1, 0, 0)
    assert next_fire("0 12 * 12 *", T0) == datetime(2024, 12, 1, 12, 0)
    assert next_fire("10,40 3-5 * * *", T0) == datetime(2024, 6, 16, 3, 10)


def test_cron_vixie_dom_dow_or():
    # both restricted → OR: fires Jun 16 (a Sunday, dow 0) before Jul 1
    assert next_fire("0 0 1 * 0", T0) == datetime(2024, 6, 16, 0, 0)


def test_cron_invalid():
    for bad in ("* * * *", "61 * * * *", "*/0 * * * *", "a * * * *"):
        with pytest.raises(CronError):
            next_fire(bad, T0)


# --- orchestrator over Spark ----------------------------------------------


@pytest.fixture()
def orch(spark, tmp_path):
    db = f"meta_{abs(hash(str(tmp_path))) % 10**9}"
    o = Orchestrator(spark, db=db)
    yield o
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _spec(tid, fn, **kw):
    return TaskSpec(task_id=tid, name=f"task{tid}", fn=fn, **kw)


def test_interval_schedule_and_audit_log(orch):
    ran = []
    now = datetime(2024, 1, 1, 0, 0, 0)
    orch.register(_spec(1, lambda s: ran.append(1), interval_seconds=60), now)
    assert orch.tick(now) == {}  # not due yet
    t1 = datetime(2024, 1, 1, 0, 1, 0)
    assert orch.tick(t1) == {1: "success"}
    assert ran == [1]
    logs = orch.logs().collect()
    assert len(logs) == 1 and logs[0].status == "success"
    # late tick fires once, no backlog (T3)
    t_late = datetime(2024, 1, 1, 0, 10, 0)
    assert orch.tick(t_late) == {1: "success"}
    assert orch.tick(t_late) == {}


def test_cron_schedule_with_fallback(orch):
    now = datetime(2024, 1, 1, 0, 0, 30)
    orch.register(_spec(2, lambda s: None, cron="*/5 * * * *"), now)
    orch.register(
        _spec(3, lambda s: None, cron="not a cron", interval_seconds=120), now
    )
    assert orch.tasks[2].next_run == datetime(2024, 1, 1, 0, 5)
    assert orch.tasks[3].next_run == datetime(2024, 1, 1, 0, 2, 30)


def test_failure_retry_then_give_up(orch):
    calls = []

    def flaky(s):
        calls.append(1)
        raise RuntimeError("boom")

    now = datetime(2024, 1, 1, 0, 0, 0)
    orch.register(
        _spec(4, flaky, interval_seconds=3600, max_retries=2, retry_delay_seconds=60),
        now,
    )
    assert orch.tick(datetime(2024, 1, 1, 1, 0, 0)) == {4: "failed"}
    # retry_delay not elapsed → nothing
    assert orch.tick(datetime(2024, 1, 1, 1, 0, 30)) == {}
    # retry 1, retry 2, then exhausted
    assert orch.tick(datetime(2024, 1, 1, 1, 1, 0)) == {4: "failed"}
    assert orch.tick(datetime(2024, 1, 1, 1, 2, 0)) == {4: "failed"}
    assert orch.tick(datetime(2024, 1, 1, 1, 3, 0)) == {}
    assert len(calls) == 3
    assert orch.consecutive_failures(4) == 3


def test_dependency_gate(orch):
    ran = []
    now = datetime(2024, 1, 1, 0, 0, 0)
    orch.register(_spec(10, lambda s: ran.append("up"), interval_seconds=60), now)
    orch.register(
        _spec(11, lambda s: ran.append("down"), interval_seconds=60, dependencies=[10]),
        now,
    )
    # dependency never ran → downstream blocked (status-None check)
    orch.tasks[10].spec.is_active = False
    t1 = datetime(2024, 1, 1, 0, 1, 0)
    assert orch.tick(t1) == {11: "blocked"}
    # upstream succeeds → downstream runs on its next due time
    orch.tasks[10].spec.is_active = True
    t2 = datetime(2024, 1, 1, 0, 2, 0)
    out = orch.tick(t2)
    assert out[10] == "success"
    orch.tasks[10].spec.is_active = False  # freeze upstream; gate reads its log
    t3 = datetime(2024, 1, 1, 0, 3, 0)
    assert orch.tick(t3)[11] == "success"
    assert ran == ["up", "down"]


def test_run_now_and_inflight_dedup(orch):
    now = datetime(2024, 1, 1, 0, 0, 0)
    orch.register(_spec(20, lambda s: None, interval_seconds=3600), now)
    assert orch.run_task(20, now) == "success"  # T9: ignores schedule
    orch.tasks[20].executing = True
    assert orch.run_task(20, now) == "skipped"  # T5
    orch.tasks[20].executing = False
    assert orch.latest_statuses()[20] == "success"


# ---------- S10/S11: python-script execution + upload store ----------


def test_execute_script_captures_output_and_env(tmp_path):
    from etl_spark.orchestrator.scripts import execute_script

    script = tmp_path / "job.py"
    script.write_text(
        "import os, sys\n"
        "print('rows=' + os.environ.get('N_ROWS', '?'))\n"
        "sys.stderr.write('warn: x\\n')\n"
    )
    r = execute_script(str(script), timeout_s=30, env={"N_ROWS": "31000"})
    assert r.success and r.returncode == 0 and not r.timed_out
    assert r.stdout.strip() == "rows=31000"
    assert "warn: x" in r.stderr


def test_execute_script_failure_and_timeout(tmp_path):
    from etl_spark.orchestrator.scripts import execute_script

    bad = tmp_path / "bad.py"
    bad.write_text("raise SystemExit(3)\n")
    r = execute_script(str(bad), timeout_s=30)
    assert not r.success and r.returncode == 3

    slow = tmp_path / "slow.py"
    slow.write_text("import time; time.sleep(60)\n")
    r2 = execute_script(str(slow), timeout_s=2)
    assert not r2.success and r2.timed_out


def test_execute_script_pythonpath_has_script_dir(tmp_path):
    from etl_spark.orchestrator.scripts import execute_script

    (tmp_path / "sibling.py").write_text("VALUE = 41\n")
    main = tmp_path / "main.py"
    main.write_text("import sibling; print(sibling.VALUE + 1)\n")
    r = execute_script(str(main), timeout_s=30)
    assert r.success and r.stdout.strip() == "42"


def test_store_upload_sanitizes(tmp_path):
    import pytest as _pytest

    from etl_spark.orchestrator.scripts import sanitize_filename, store_upload

    assert sanitize_filename('we/ird*na?me:"<x>|.py') == "weirdnamex.py"
    src = tmp_path / "etl?job.py"
    src.write_text("print('ok')\n")
    dest = store_upload(str(src), str(tmp_path / "uploads"))
    assert dest.endswith("etljob.py")
    with _pytest.raises(ValueError):
        store_upload(__file__.replace(".py", ".txt"), str(tmp_path / "uploads"))


def test_monitor_default_cadence(spark):
    """T4: a monitoring task with no cron and no interval defaults to
    the 300 s cadence (web_scheduler.py:1490)."""
    from datetime import datetime, timedelta

    from etl_spark.orchestrator.scheduler import (
        DEFAULT_MONITOR_INTERVAL_S,
        Orchestrator,
        TaskSpec,
    )

    orch = Orchestrator(spark, db="etl_meta_t4")
    now = datetime(2026, 1, 8, 15, 50, 0)
    orch.register(
        TaskSpec(task_id=1, name="alert", fn=lambda s: None, is_monitor=True), now
    )
    assert orch.tasks[1].next_run == now + timedelta(seconds=DEFAULT_MONITOR_INTERVAL_S)
    orch.register(TaskSpec(task_id=2, name="plain", fn=lambda s: None), now)
    assert orch.tasks[2].next_run is None


def test_cron_dow_range_ending_in_sunday7():
    """vixie cron accepts ranges ENDING at 7 ('5-7' = Fri,Sat,Sun) —
    ADVICE r1: these raised CronError, silently changing fire times
    via the interval fallback."""
    # T0 is Sat Jun 15 10:30 — "0 9 * * 5-7" next fires Sun Jun 16 09:00
    assert next_fire("0 9 * * 5-7", T0) == datetime(2024, 6, 16, 9, 0)
    # same set as the wrapped spelling
    assert next_fire("0 9 * * 5-7", T0) == next_fire("0 9 * * 0,5,6", T0)
    # full 0-7 range == *
    assert next_fire("0 9 * * 0-7", T0) == next_fire("0 9 * * *", T0)
    # stepped range crossing 7: {5, 7→0}
    assert next_fire("0 9 * * 5-7/2", T0) == next_fire("0 9 * * 0,5", T0)


def test_tick_is_single_spark_job(spark, orch, monkeypatch):
    """VERDICT r1 'What's wrong' #3: tick must derive ALL its
    log-based state (latest status, consecutive failures, last run
    time) from ONE query even when retry-eligible failed tasks
    exist."""
    now = datetime(2024, 6, 15, 12, 0)
    boom = TaskSpec(1, "boom", lambda s: 1 / 0, interval_seconds=60, max_retries=3)
    boom2 = TaskSpec(2, "boom2", lambda s: 1 / 0, interval_seconds=60, max_retries=3)
    ok = TaskSpec(3, "ok", lambda s: None, interval_seconds=60)
    for t in (boom, boom2, ok):
        orch.register(t, now)
    orch.run_task(1, now)  # failed
    orch.run_task(2, now)  # failed
    orch.run_task(3, now)  # success

    # patch the CONCRETE DataFrame class (pyspark.sql.DataFrame is an
    # abstract base in Spark 4; subclass overrides would bypass it)
    cls = type(orch.logs())
    calls = []
    real_collect = cls.collect

    def counting_collect(self):
        calls.append(1)
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", counting_collect)
    orch.tick(now)  # nothing due, but 2 retry-eligible failed tasks
    assert len(calls) == 1, f"tick ran {len(calls)} collect jobs, expected 1"


def test_tick_snapshot_matches_per_task_queries(orch):
    now = datetime(2024, 6, 15, 12, 0)
    fail3 = TaskSpec(7, "f3", lambda s: 1 / 0, interval_seconds=60)
    orch.register(fail3, now)
    orch.run_task(7, now)
    orch.log_execution(7, "success", datetime(2024, 6, 15, 12, 1))
    orch.run_task(7, datetime(2024, 6, 15, 12, 2))
    orch.run_task(7, datetime(2024, 6, 15, 12, 3))
    snap = orch.tick_snapshot()
    status, consec, last_t = snap[7]
    assert status == "failed"
    assert consec == orch.consecutive_failures(7) == 2
    assert last_t == datetime(2024, 6, 15, 12, 3)


def test_cron_leap_day():
    # Feb 29 only exists in leap years: from mid-2024 (leap), the next
    # Feb 29 fire is 2028
    assert next_fire("0 0 29 2 *", T0) == datetime(2028, 2, 29, 0, 0)


# --- in-memory tick state (the memo `log_execution` keeps current) --------


def test_memo_matches_log_query(orch):
    """After every row and a tick, the memo equals a fresh
    `tick_snapshot()`: random rows in time order, a repeated time, a
    row back in time, and a failure streak longer than LOOKBACK."""
    t = datetime(2024, 3, 1, 8, 0)
    for tid in (1, 2, 3):
        orch.register(_spec(tid, lambda s: None), t)  # never due, no retry
    rng = random.Random(20240301)
    rows = []
    for _ in range(12):
        t += timedelta(seconds=rng.randint(1, 90))
        rows.append((rng.choice((1, 2, 3)), rng.choice(("success", "failed", "timeout")), t))
    rows.append((1, "failed", t))  # ties the previous row's time
    rows.append((1, "failed", t))  # and again, for the same task
    rows.append((2, "success", t - timedelta(hours=1)))  # back in time
    for _ in range(LOOKBACK + 5):
        t += timedelta(seconds=1)
        rows.append((3, "failed", t))
    rows.append((3, "success", t + timedelta(seconds=1)))

    orch.tick(t)  # fills the memo from the (empty) log
    for tid, status, now in rows:
        stale = orch._snap.get(tid, (None, 0, None))[2]
        orch.log_execution(tid, status, now)
        if stale is not None and now <= stale:
            assert orch._snap is None  # re-read on the next tick
        orch.tick(now)
        assert orch._snap == orch.tick_snapshot()
    assert orch._snap[3] == ("success", 0, t + timedelta(seconds=1))


def test_later_ticks_issue_no_spark_job(orch, monkeypatch):
    """The log is read by the first tick only; later ticks decide from
    the memo even while tasks run and log rows."""
    now = datetime(2024, 6, 15, 12, 0)
    orch.register(_spec(1, lambda s: 1 / 0, interval_seconds=60, max_retries=5), now)
    orch.register(_spec(2, lambda s: None, interval_seconds=60), now)
    orch.register(_spec(3, lambda s: None, interval_seconds=60, dependencies=[2]), now)
    orch.run_task(1, now - timedelta(seconds=30))

    cls = type(orch.logs())
    calls = []
    real_collect = cls.collect

    def counting_collect(self):
        calls.append(1)
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", counting_collect)
    assert orch.tick(now) == {1: "failed"}  # retry, from the first read
    assert orch.tick(now + timedelta(minutes=1)) == {
        1: "failed",
        2: "success",
        3: "blocked",
    }
    assert orch.tick(now + timedelta(minutes=2)) == {
        1: "failed",
        2: "success",
        3: "success",
    }
    assert len(calls) == 1, f"three ticks ran {len(calls)} collect jobs, expected 1"
    monkeypatch.undo()
    assert orch._snap == orch.tick_snapshot()


def test_retry_decision_survives_restart(spark, orch):
    """`test_failure_retry_then_give_up` split across a restart: the
    new Orchestrator re-reads the log and makes the same decisions."""

    def flaky(s):
        raise RuntimeError("boom")

    spec = _spec(4, flaky, interval_seconds=3600, max_retries=2, retry_delay_seconds=60)
    orch.register(spec, datetime(2024, 1, 1, 0, 0, 0))
    assert orch.tick(datetime(2024, 1, 1, 1, 0, 0)) == {4: "failed"}
    assert orch.tick(datetime(2024, 1, 1, 1, 1, 0)) == {4: "failed"}

    restarted = Orchestrator(spark, db=orch.db)
    restarted.register(spec, datetime(2024, 1, 1, 1, 1, 30))
    assert restarted.tick(datetime(2024, 1, 1, 1, 1, 45)) == {}  # retry_delay
    assert restarted.tick(datetime(2024, 1, 1, 1, 2, 0)) == {4: "failed"}
    assert restarted.tick(datetime(2024, 1, 1, 1, 3, 0)) == {}
    assert restarted.consecutive_failures(4) == 3


def test_inflight_dedup_across_threads(orch):
    """T5 across threads: while one thread's run is inside its task,
    every concurrent run-now call on other threads is skipped, so the
    task runs and logs exactly once. More threads than cores and a
    short switch interval give a check-then-set race its chance."""
    now = datetime(2024, 1, 1, 0, 0, 0)
    release = threading.Event()
    entered = []

    def blocking(s):
        entered.append(threading.get_ident())
        if not release.wait(60):
            raise TimeoutError("never released")

    orch.register(_spec(30, blocking, interval_seconds=3600), now)
    n = 8
    barrier = threading.Barrier(n)
    outcomes = []

    def run():
        barrier.wait(60)
        outcomes.append(orch.run_task(30, now))

    threads = [threading.Thread(target=run) for _ in range(n)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        deadline = time.monotonic() + 30
        while len(outcomes) < n - 1 and time.monotonic() < deadline:
            time.sleep(0.01)
        assert outcomes == ["skipped"] * (n - 1) and len(entered) == 1
    finally:
        sys.setswitchinterval(switch)
        release.set()
        for t in threads:
            t.join(60)
    assert not any(t.is_alive() for t in threads)
    assert sorted(outcomes) == ["skipped"] * (n - 1) + ["success"]
    assert orch.logs().count() == 1


# --- group commit: a tick's audit rows land as one INSERT per table --------


def _new_files(spark, table: str, before: set[str]) -> list[str]:
    return sorted(set(spark.table(table).inputFiles()) - before)


def _file_rows(spark, table: str, path: str) -> list[tuple]:
    """A file's rows in file order."""
    schema = spark.table(table).schema
    return [tuple(r) for r in spark.read.schema(schema).parquet(path).collect()]


def _alerting_task(engine, at: datetime):
    from etl_spark.alerting import AlertSpec

    def run(_spark):
        engine.check(AlertSpec(1, "always", "SELECT 1 AS a"), now=at)
        engine.check(AlertSpec(2, "never", "SELECT 1 AS a WHERE false"), now=at)

    return run


def test_tick_commits_one_file_per_log_table(spark, orch):
    """Three tasks, one of which raises and one of which runs two alert
    checks: each log table gains exactly one file, holding the tick's
    rows in log order, the failed run's row with the rest."""
    from etl_spark.alerting import AlertEngine

    t0 = datetime(2024, 6, 15, 12, 0)
    now = t0 + timedelta(minutes=1, microseconds=250)
    engine = AlertEngine(spark, db=orch.db)
    orch.register(_spec(1, _alerting_task(engine, now), interval_seconds=60), t0)
    orch.register(_spec(2, lambda s: 1 / 0, interval_seconds=60), t0)
    orch.register(_spec(3, lambda s: None, interval_seconds=60), t0)
    tables = (f"{orch.db}.task_logs", f"{orch.db}.alert_logs")
    before = {t: set(spark.table(t).inputFiles()) for t in tables}

    assert orch.tick(now) == {1: "success", 2: "failed", 3: "success"}

    (task_file,) = _new_files(spark, tables[0], before[tables[0]])
    assert _file_rows(spark, tables[0], task_file) == [
        (1, "task1", "success", now, ""),
        (2, "task2", "failed", now, "division by zero"),
        (3, "task3", "success", now, ""),
    ]
    (alert_file,) = _new_files(spark, tables[1], before[tables[1]])
    assert _file_rows(spark, tables[1], alert_file) == [
        (1, "always", now, 1, True, ""),
        (2, "never", now, 0, False, ""),
    ]
    assert orch._snap == orch.tick_snapshot()


def test_failed_flush_commits_the_other_table_and_drops_memo(spark, orch, monkeypatch):
    """A ``task_logs`` INSERT that fails at tick end: every due task
    has run, ``alert_logs`` is still committed, the tick raises with
    the memo dropped, and the next tick re-reads the log."""
    from etl_spark.alerting import AlertEngine
    from etl_spark.sources import writers

    t0 = datetime(2024, 6, 15, 12, 0)
    now = t0 + timedelta(minutes=1)
    ran = []
    engine = AlertEngine(spark, db=orch.db)
    checks = _alerting_task(engine, now)
    orch.register(_spec(1, lambda s: ran.append(1), interval_seconds=60), t0)
    orch.register(_spec(2, lambda s: (ran.append(2), checks(s)), interval_seconds=60), t0)
    orch.tick(t0)  # fills the memo from the empty log
    real_insert = writers._insert_rows

    def failing_insert(session, table, rows):
        if table.endswith(".task_logs"):
            raise RuntimeError("injected task_logs flush failure")
        real_insert(session, table, rows)

    monkeypatch.setattr(writers, "_insert_rows", failing_insert)
    with pytest.raises(RuntimeError, match="injected task_logs flush failure"):
        orch.tick(now)
    monkeypatch.undo()

    assert ran == [1, 2]
    assert orch._snap is None
    assert orch.logs().count() == 0
    assert sorted(r.alert_id for r in engine.alert_logs().collect()) == [1, 2]
    assert orch.tick(now) == {}
    assert orch._snap == orch.tick_snapshot() == {}


def test_run_now_during_tick_commits_before_returning(orch):
    """A run-now from another thread while the tick is blocked inside
    a task writes its row at once; the tick's rows, one of them logged
    before the block, appear only when the tick returns."""
    t0 = datetime(2024, 6, 15, 12, 0)
    now = t0 + timedelta(minutes=1)
    entered, release = threading.Event(), threading.Event()

    def blocking(_spark):
        entered.set()
        if not release.wait(60):
            raise TimeoutError("never released")

    orch.register(_spec(1, lambda s: None, interval_seconds=60), t0)
    orch.register(_spec(2, blocking, interval_seconds=60), t0)
    orch.register(_spec(3, lambda s: None, interval_seconds=3600), t0)
    outcome = []
    ticker = threading.Thread(target=lambda: outcome.append(orch.tick(now)))
    ticker.start()
    try:
        assert entered.wait(60)
        assert orch.run_task(3, now) == "success"
        assert [(r.task_id, r.status) for r in orch.logs().collect()] == [(3, "success")]
    finally:
        release.set()
        ticker.join(60)
    assert outcome == [{1: "success", 2: "success"}]
    assert sorted(r.task_id for r in orch.logs().collect()) == [1, 2, 3]
    assert orch._snap == orch.tick_snapshot()


def test_interrupted_tick_commits_rows_already_logged(orch):
    """A tick that a task aborts with a non-``Exception`` still commits
    the rows logged before it, and drops the memo."""

    class Abort(BaseException):
        pass

    def abort(_spark):
        raise Abort()

    t0 = datetime(2024, 6, 15, 12, 0)
    now = t0 + timedelta(minutes=1)
    orch.register(_spec(1, lambda s: None, interval_seconds=60), t0)
    orch.register(_spec(2, abort, interval_seconds=60), t0)
    orch.tick(t0)
    with pytest.raises(Abort):
        orch.tick(now)
    assert [(r.task_id, r.status) for r in orch.logs().collect()] == [(1, "success")]
    assert orch._snap is None
    assert not orch.tasks[2].executing
