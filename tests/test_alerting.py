"""M4 alerting tests: condition map, trigger/export/notify/log cycle,
error capture."""

from __future__ import annotations

from datetime import datetime

import pytest

from etl_spark.alerting import (
    AlertEngine,
    AlertSpec,
    CollectingNotifier,
    evaluate_condition,
)


def test_condition_map():
    assert evaluate_condition(5, "not_empty")
    assert not evaluate_condition(0, "not_empty")
    assert evaluate_condition(5, "rows_gt", 1)
    assert not evaluate_condition(1, "rows_gt", 1)
    assert evaluate_condition(0, "rows_lt", 1)
    assert evaluate_condition(3, "rows_eq", 3)
    assert evaluate_condition(4, "rows_neq", 3)
    with pytest.raises(ValueError, match="unknown condition"):
        evaluate_condition(1, "bogus")


@pytest.fixture()
def engine(spark, tmp_path):
    db = f"alerts_{abs(hash(str(tmp_path))) % 10**9}"
    eng = AlertEngine(spark, notifier=CollectingNotifier(), db=db)
    yield eng
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_triggered_alert_exports_and_notifies(engine, spark, tmp_path):
    spark.sql("SELECT 1 AS id, 'x' AS v UNION ALL SELECT 2, 'y'").createOrReplaceTempView(
        "mon_src"
    )
    out = str(tmp_path / "alert_report.csv")
    spec = AlertSpec(
        alert_id=1,
        name="rows over threshold",
        sql="SELECT id AS `订单号`, v AS `店铺` FROM mon_src",
        condition="rows_gt",
        threshold=1,
        export_path=out,
    )
    r = engine.check(spec, now=datetime(2024, 1, 1))
    assert r.triggered and r.n_rows == 2 and r.export_path == out
    with open(out) as fh:
        assert fh.readline().strip() == "订单号,店铺"
    assert len(engine.notifier.sent) == 1
    assert engine.notifier.sent[0]["attachment"] == out
    logs = engine.alert_logs().collect()
    assert len(logs) == 1 and logs[0].triggered and logs[0].n_rows == 2


def test_untriggered_alert_skips_sideeffects(engine, spark, tmp_path):
    spec = AlertSpec(
        alert_id=2,
        name="quiet",
        sql="SELECT 1 AS a WHERE 1 = 0",
        condition="not_empty",
        export_path=str(tmp_path / "nope.csv"),
    )
    r = engine.check(spec, now=datetime(2024, 1, 1))
    assert not r.triggered and r.n_rows == 0 and r.export_path is None
    assert engine.notifier.sent == []
    assert not (tmp_path / "nope.csv").exists()
    assert engine.alert_logs().count() == 1  # check still logged (T10)


def test_alert_query_error_is_captured(engine):
    r = engine.check(
        AlertSpec(alert_id=3, name="broken", sql="SELECT * FROM missing_table_xyz")
    )
    assert not r.triggered and r.n_rows == -1
    assert "missing_table_xyz" in r.error or "TABLE_OR_VIEW" in r.error
    logs = engine.alert_logs().collect()
    assert len(logs) == 1 and logs[0].details != ""


def test_smtp_notifier_message_build(tmp_path):
    """SMTPNotifier (S9 concrete sink, web_scheduler.py:3720-3796):
    full MIME build + TLS + login + send against an injected
    transport — the only unexercised line against a real server is
    the socket connect."""
    from etl_spark.alerting import SMTPNotifier

    sessions = []

    class FakeSMTP:
        def __init__(self, host, port):
            self.host, self.port = host, port
            self.calls = []
            sessions.append(self)

        def __enter__(self):
            return self

        def __exit__(self, *a):
            self.calls.append(("quit",))

        def starttls(self):
            self.calls.append(("starttls",))

        def login(self, u, p):
            self.calls.append(("login", u, p))

        def send_message(self, msg):
            self.calls.append(("send", msg))

    att = tmp_path / "report.xlsx"
    att.write_bytes(b"PK\x03\x04fake")
    n = SMTPNotifier(
        host="mail.example.com",
        port=587,
        sender="etl@example.com",
        recipients=("a@example.com", "b@example.com"),
        username="u",
        password="p",
        use_tls=True,
        smtp_factory=FakeSMTP,
    )
    n.send("alert: rows_gt", "5 rows matched", attachment=str(att))

    (s,) = sessions
    assert (s.host, s.port) == ("mail.example.com", 587)
    kinds = [c[0] for c in s.calls]
    assert kinds == ["starttls", "login", "send", "quit"]
    msg = next(c[1] for c in s.calls if c[0] == "send")
    assert msg["Subject"] == "alert: rows_gt"
    assert msg["To"] == "a@example.com, b@example.com"
    parts = list(msg.iter_attachments())
    assert len(parts) == 1 and parts[0].get_filename() == "report.xlsx"
    assert parts[0].get_payload(decode=True) == b"PK\x03\x04fake"


def test_alert_export_xlsx_styled(engine, spark, sf_dir, tmp_path):
    """.xlsx export paths now produce the styled workbook without any
    xlsx engine installed (stdlib OOXML writer)."""
    import zipfile

    out = str(tmp_path / "alert_report.xlsx")
    spec = AlertSpec(
        alert_id=99,
        name="xlsx-export",
        sql=f"SELECT * FROM parquet.`{sf_dir}/region.parquet`",
        condition="not_empty",
        export_path=out,
    )
    res = engine.check(spec)
    assert res.triggered and res.export_path == out
    with zipfile.ZipFile(out) as z:
        assert "xl/worksheets/sheet1.xml" in z.namelist()
        assert b"customWidth" in z.read("xl/worksheets/sheet1.xml")
    assert engine.notifier.sent[0]["attachment"] == out


def test_check_profile_drift_notifies_on_breach_only(spark):
    from etl_spark.alerting import CollectingNotifier, check_profile_drift

    base = spark.createDataFrame(
        [("v", "completeness", 1.0), ("v", "mean", 100.0)],
        "item STRING, metric STRING, value DOUBLE",
    )
    clean = spark.createDataFrame(
        [("v", "completeness", 1.0), ("v", "mean", 101.0)],
        "item STRING, metric STRING, value DOUBLE",
    )
    drifted = spark.createDataFrame(
        [("v", "completeness", 0.5), ("v", "mean", 101.0)],
        "item STRING, metric STRING, value DOUBLE",
    )
    n = CollectingNotifier()
    assert check_profile_drift(clean, base, n) == 0
    assert n.sent == []  # clean -> silent (alert-on-condition)
    got = check_profile_drift(drifted, base, n)
    assert got == 1 and len(n.sent) == 1
    assert "v.completeness" in n.sent[0]["body"]
    assert "mean" not in n.sent[0]["body"]


def test_check_profile_drift_releases_cache_on_failure(spark):
    """A drift check whose count raises leaves nothing cached."""
    from pyspark.sql import functions as F

    from etl_spark.alerting import CollectingNotifier, check_profile_drift

    spark.catalog.clearCache()
    base = spark.createDataFrame(
        [("v", "mean", 100.0)], "item STRING, metric STRING, value DOUBLE"
    )
    # range-backed: a local relation's projection would be evaluated
    # while planning the persist, before the count runs
    current = spark.range(1).select(
        F.lit("v").alias("item"),
        F.lit("mean").alias("metric"),
        F.raise_error(F.lit("profile read failed")).cast("double").alias("value"),
    )
    with pytest.raises(Exception, match="profile read failed"):
        check_profile_drift(current, base, CollectingNotifier())
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_check_never_caches(engine, spark, tmp_path, monkeypatch):
    """An alert check is one Spark action on the query itself: nothing
    is cached or persisted, with or without an export."""
    spark.sql("SELECT id FROM range(4)").createOrReplaceTempView("mon_nocache")
    cls = type(spark.sql("SELECT 1"))
    calls = []
    for name in ("cache", "persist"):
        monkeypatch.setattr(cls, name, lambda self, *a, _n=name, **k: calls.append(_n))
    for export in (None, str(tmp_path / "r.csv"), str(tmp_path / "r.xlsx")):
        r = engine.check(
            AlertSpec(
                alert_id=5,
                name="no cache",
                sql="SELECT id FROM mon_nocache",
                export_path=export,
            )
        )
        assert r.error is None and r.triggered and r.n_rows == 4
    assert calls == []


@pytest.mark.parametrize("suffix", [".csv", ".xlsx"])
def test_export_overflow_counts_all_exports_cap(engine, spark, tmp_path, suffix):
    """A result larger than max_export_rows reports its true row count
    and exports exactly the first max_export_rows rows."""
    import zipfile

    out = str(tmp_path / f"overflow{suffix}")
    r = engine.check(
        AlertSpec(
            alert_id=6,
            name="overflow",
            sql="SELECT id, concat('row ', id) AS label FROM range(5) ORDER BY id",
            condition="rows_gt",
            threshold=4,
            export_path=out,
            max_export_rows=3,
        )
    )
    assert r.error is None and r.triggered and r.n_rows == 5 and r.export_path == out
    if suffix == ".csv":
        with open(out) as fh:
            assert fh.read().splitlines() == ["id,label", "0,row 0", "1,row 1", "2,row 2"]
    else:
        with zipfile.ZipFile(out) as z:
            assert z.read("xl/worksheets/sheet1.xml").count(b"<row ") - 1 == 3
    assert "5 rows" in engine.notifier.sent[0]["body"]
