"""SQL alerting — threshold-monitoring queries with report export and
pluggable notification (SURVEY.md §2.10 T8, §3.2).

The reference's alert check (`_check_sql_alert_internal`,
web_scheduler.py:3116-3613) runs a stored query, evaluates a row-count
condition (`not_empty` / `rows_gt` / `rows_lt` / `rows_eq` /
`rows_neq` vs a threshold, :3354-3366), and on trigger exports the
full result to xlsx (:3615-3718) and emails it (:3720-3796), logging
every check (:1129-1144).

Improvements over the reference, by construction:
- ONE materialization: the reference fetches all rows even when only
  the count matters (anti-pattern, SURVEY.md §4.1); here the DataFrame
  is cached, counted, and only exported when triggered.
- the notifier is an interface; tests use the collecting impl, prod
  wires SMTP outside the engine (side effects never live inside a
  query plan).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.sources.writers import append_row

CONDITIONS = ("not_empty", "rows_gt", "rows_lt", "rows_eq", "rows_neq")


def evaluate_condition(n_rows: int, condition: str, threshold: int = 0) -> bool:
    """The reference's condition map (web_scheduler.py:3354-3366)."""
    if condition == "not_empty":
        return n_rows > 0
    if condition == "rows_gt":
        return n_rows > threshold
    if condition == "rows_lt":
        return n_rows < threshold
    if condition == "rows_eq":
        return n_rows == threshold
    if condition == "rows_neq":
        return n_rows != threshold
    raise ValueError(f"unknown condition {condition!r}; expected one of {CONDITIONS}")


class Notifier(Protocol):
    def send(self, subject: str, body: str, attachment: str | None = None) -> None: ...


@dataclass
class CollectingNotifier:
    """Test/no-op notifier: records every notification (the S9 sink
    behind an interface — SURVEY.md §5.2 item 4)."""

    sent: list[dict] = field(default_factory=list)

    def send(self, subject: str, body: str, attachment: str | None = None) -> None:
        self.sent.append({"subject": subject, "body": body, "attachment": attachment})


@dataclass
class SMTPNotifier:
    """Concrete S9 email sink (web_scheduler.py:3720-3796 parity):
    MIME multipart message — text body + optional file attachment —
    over SMTP with optional STARTTLS + login. The reference hardcodes
    `smtplib.SMTP(host, port)`; here the transport factory is
    injectable so tests exercise the full message build + send
    sequence without a live server (the default factory IS
    `smtplib.SMTP`, used as a context manager exactly like the
    reference's try/finally quit)."""

    host: str
    port: int = 25
    sender: str = "etl-alerts@localhost"
    recipients: tuple[str, ...] = ()
    username: str | None = None
    password: str | None = None
    use_tls: bool = False
    smtp_factory: object | None = None  # (host, port) -> SMTP-like ctx manager

    def send(self, subject: str, body: str, attachment: str | None = None) -> None:
        import os
        import smtplib
        from email.message import EmailMessage

        msg = EmailMessage()
        msg["Subject"] = subject
        msg["From"] = self.sender
        msg["To"] = ", ".join(self.recipients)
        msg.set_content(body)
        if attachment is not None:
            with open(attachment, "rb") as fh:
                data = fh.read()
            msg.add_attachment(
                data,
                maintype="application",
                subtype="octet-stream",
                filename=os.path.basename(attachment),
            )
        factory = self.smtp_factory or smtplib.SMTP
        with factory(self.host, self.port) as smtp:  # type: ignore[operator]
            if self.use_tls:
                smtp.starttls()
            if self.username:
                smtp.login(self.username, self.password or "")
            smtp.send_message(msg)


@dataclass
class AlertSpec:
    alert_id: int
    name: str
    sql: str
    condition: str = "not_empty"
    threshold: int = 0
    export_path: str | None = None  # report on trigger: .xlsx styled, else csv (S8)
    max_export_rows: int = 100_000


@dataclass
class AlertResult:
    alert_id: int
    checked_at: datetime
    n_rows: int
    triggered: bool
    export_path: str | None = None
    error: str | None = None


ALERT_LOG_SCHEMA = (
    "alert_id INT, alert_name STRING, checked_at TIMESTAMP_NTZ, n_rows BIGINT, "
    "triggered BOOLEAN, details STRING"
)


class AlertEngine:
    def __init__(
        self, spark: SparkSession, notifier: Notifier | None = None, db: str = "etl_meta"
    ):
        self.spark = spark
        self.notifier = notifier or CollectingNotifier()
        self.db = db
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {db}.alert_logs ({ALERT_LOG_SCHEMA}) USING parquet"
        )

    def check(self, spec: AlertSpec, now: datetime | None = None) -> AlertResult:
        """One alert check (§3.2 lifecycle): run → count → condition →
        (export + notify) → log. The query result is cached so count
        and export share one execution."""
        now = now or datetime.now()
        df: DataFrame | None = None
        try:
            df = self.spark.sql(spec.sql).cache()
            n = df.count()
            triggered = evaluate_condition(n, spec.condition, spec.threshold)
            export_path = None
            if triggered:
                export_path = self._export(df, spec)
                self.notifier.send(
                    subject=f"[alert] {spec.name}",
                    body=(
                        f"condition {spec.condition}(threshold={spec.threshold}) met: "
                        f"{n} rows"
                    ),
                    attachment=export_path,
                )
            result = AlertResult(spec.alert_id, now, n, triggered, export_path)
        except Exception as ex:  # noqa: BLE001 — checks must not kill the loop
            result = AlertResult(spec.alert_id, now, -1, False, error=str(ex)[:500])
        finally:
            if df is not None:
                df.unpersist()
        self._log(spec, result)
        return result

    def _export(self, df: DataFrame, spec: AlertSpec) -> str | None:
        """S8 report export on trigger (web_scheduler.py:3615-3718's
        role): .xlsx paths get the STYLED workbook (stdlib OOXML
        writer — no engine dependency), anything else a CSV."""
        if spec.export_path is None:
            return None
        from etl_spark.sources.excel import write_excel, write_report_csv

        if spec.export_path.endswith(".xlsx"):
            write_excel(df, spec.export_path, spec.max_export_rows)
            return spec.export_path
        path = (
            spec.export_path
            if spec.export_path.endswith(".csv")
            else spec.export_path.rsplit(".", 1)[0] + ".csv"
        )
        write_report_csv(df, path, spec.max_export_rows)
        return path

    def _log(self, spec: AlertSpec, r: AlertResult) -> None:
        """T10 alert audit log (log_sql_alert_execution,
        web_scheduler.py:1129-1144)."""
        append_row(
            self.spark,
            f"{self.db}.alert_logs",
            (
                spec.alert_id,
                spec.name,
                r.checked_at,
                r.n_rows,
                r.triggered,
                r.error or "",
            ),
        )

    def alert_logs(self) -> DataFrame:
        return self.spark.table(f"{self.db}.alert_logs")


def check_profile_drift(
    current: DataFrame,
    baseline: DataFrame,
    notifier: Notifier,
    rel_tol: float = 0.10,
    abs_tol: float = 0.0,
    subject: str = "profile drift",
    max_lines: int = 50,
) -> int:
    """The data-quality alert loop closed: diff two profile snapshots
    (``quality.profile`` / ``streaming.monitor.profile_snapshot``)
    with ``quality.profile_drift`` and notify on breaches — the
    reference's row-count threshold alert generalized to every column
    metric and rule verdict at once. Returns the TRUE breach count (the body lists at most
    ``max_lines`` of them); sends nothing when clean (the reference's alert-on-condition contract,
    web_scheduler.py:3354). Alerts are summaries, not dumps."""
    from etl_spark.quality import profile_drift

    drift = profile_drift(
        current, baseline, abs_tol=abs_tol, rel_tol=rel_tol
    ).filter("breached").persist()
    n_breached = drift.count()  # the TRUE count — the return value
    if not n_breached:
        drift.unpersist()
        return 0
    top = drift.orderBy(
        F.desc_nulls_last("rel_change"), "item", "metric"
    ).limit(max_lines).collect()
    drift.unpersist()
    lines = [
        f"{r['item']}.{r['metric']}: {r['base']} -> {r['cur']} "
        f"({r['status']}, rel_change={r['rel_change']})"
        for r in top
    ]
    if n_breached > max_lines:
        lines.append(f"... ({n_breached - max_lines} more)")
    notifier.send(subject, "\n".join(lines))
    return n_breached
