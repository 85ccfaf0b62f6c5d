"""Audit-log round trips: task runs (`task_logs`) and alert checks
(`alert_logs`) are single-row parameterized INSERTs, so timestamps
and free text must read back exactly as written."""

from __future__ import annotations

from datetime import datetime

import pytest

from etl_spark.alerting import AlertEngine, AlertSpec
from etl_spark.orchestrator import Orchestrator, TaskSpec

# naive wall-clock time with microseconds; a value bound as a
# session-zone TIMESTAMP would land shifted by the +08:00 offset
NOW = datetime(2024, 6, 15, 10, 30, 45, 123456)

# everything an exception message can carry that SQL text cannot
TRICKY = (
    "it's \"quoted\"; DROP TABLE x; -- not a comment :p0 :name ? \\n\n"
    "第二行：店铺 出错"
)


@pytest.fixture(scope="module")
def shanghai(spark):
    """A session whose time zone is 8 hours off UTC."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
    return s


@pytest.fixture()
def meta(shanghai, tmp_path):
    db = f"audit_{abs(hash(str(tmp_path))) % 10**9}"
    yield Orchestrator(shanghai, db=db), AlertEngine(shanghai, db=db)
    shanghai.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_timestamp_ntz_round_trips_under_offset_session(meta):
    orch, alerts = meta
    orch.register(TaskSpec(task_id=1, name="t1", fn=lambda s: None), NOW)
    assert orch.run_task(1, NOW) == "success"
    alerts.check(AlertSpec(alert_id=1, name="a1", sql="SELECT 1 AS a"), now=NOW)

    assert [r.execution_time for r in orch.logs().collect()] == [NOW]
    assert [r.checked_at for r in alerts.alert_logs().collect()] == [NOW]


def test_details_text_round_trips_verbatim(meta):
    orch, alerts = meta

    def boom(_spark):
        raise RuntimeError(TRICKY)

    class FailingNotifier:
        def send(self, subject, body, attachment=None):
            raise RuntimeError(TRICKY)

    orch.register(TaskSpec(task_id=2, name="t2", fn=boom), NOW)
    assert orch.run_task(2, NOW) == "failed"
    alerts.notifier = FailingNotifier()
    r = alerts.check(AlertSpec(alert_id=2, name="a2", sql="SELECT 1 AS a"), now=NOW)
    assert r.error == TRICKY

    (task_row,) = orch.logs().collect()
    assert (task_row.task_name, task_row.status, task_row.details) == (
        "t2",
        "failed",
        TRICKY,
    )
    (alert_row,) = alerts.alert_logs().collect()
    assert (alert_row.n_rows, alert_row.triggered, alert_row.details) == (
        -1,
        False,
        TRICKY,
    )
