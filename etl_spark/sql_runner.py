"""Multi-statement SQL script runner (SURVEY.md §2.9).

The reference splits scripts on ';' and runs statements sequentially,
classifying SELECT vs non-SELECT and returning rows or affected-row
counts (web_scheduler.py:920-1010). This runner keeps those semantics
on `spark.sql`, with two deliberate fixes over the reference:

- the splitter is quote- and comment-aware (the reference breaks on
  semicolons inside string literals — noted hazard, SURVEY.md §7.4);
- statements execute strictly in order with no reordering, because
  scripts mix side effects (TRUNCATE before INSERT...SELECT — the
  production script 30 shape).

SELECT-ish statements (SELECT / WITH / SHOW / DESCRIBE / VALUES /
EXPLAIN) return their DataFrame lazily — the caller decides whether
to collect, count, or export, so a monitoring query is never
materialized twice (the reference fetches all rows even when only the
count is needed — anti-pattern per SURVEY.md §4.1).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_ROWS_PREFIXES = ("SELECT", "WITH", "SHOW", "DESCRIBE", "DESC", "VALUES", "EXPLAIN", "TABLE")


def split_statements(script: str) -> list[str]:
    """Split a SQL script on ';' outside quotes and comments.

    Handles single/double-quoted literals with backslash and doubled-
    quote escapes, backtick identifiers, `--` line comments and
    `/* */` block comments. (Reference behavior: a plain
    `script.split(';')` at web_scheduler.py:921.)"""
    stmts: list[str] = []
    buf: list[str] = []
    i, n = 0, len(script)
    state = None  # None | "'" | '"' | '`' | '--' | '/*'
    while i < n:
        ch = script[i]
        nxt = script[i + 1] if i + 1 < n else ""
        if state is None:
            if ch == ";":
                s = "".join(buf).strip()
                if s:
                    stmts.append(s)
                buf = []
            elif ch == "-" and nxt == "-":
                state = "--"
                buf.append(ch)
            elif ch == "/" and nxt == "*":
                state = "/*"
                buf.append(ch)
            else:
                if ch in ("'", '"', "`"):
                    state = ch
                buf.append(ch)
        elif state in ("'", '"'):
            buf.append(ch)
            if ch == "\\" and nxt:
                buf.append(nxt)
                i += 1
            elif ch == state:
                if nxt == state:  # doubled-quote escape stays inside
                    buf.append(nxt)
                    i += 1
                else:
                    state = None
        elif state == "`":
            buf.append(ch)
            if ch == "`":
                state = None
        elif state == "--":
            buf.append(ch)
            if ch == "\n":
                state = None
        elif state == "/*":
            buf.append(ch)
            if ch == "*" and nxt == "/":
                buf.append(nxt)
                i += 1
                state = None
        i += 1
    s = "".join(buf).strip()
    if s:
        stmts.append(s)
    return stmts


def classify(stmt: str) -> str:
    """'rows' for result-returning statements, 'exec' otherwise —
    the reference's prefix test (web_scheduler.py:931), extended to
    CTE/SHOW/EXPLAIN forms it misclassifies. Leading comments and
    redundant parens are skipped before the prefix test (a statement
    like '-- note\\nSELECT ...' is still a SELECT)."""
    head = stmt.lstrip()
    while True:
        if head.startswith("--"):
            nl = head.find("\n")
            head = head[nl + 1:].lstrip() if nl != -1 else ""
        elif head.startswith("/*"):
            end = head.find("*/")
            head = head[end + 2:].lstrip() if end != -1 else ""
        elif head.startswith("("):
            head = head[1:].lstrip()
        else:
            break
    return "rows" if head.upper().startswith(_ROWS_PREFIXES) else "exec"


@dataclass
class StatementResult:
    statement: str
    kind: str  # 'rows' | 'exec'
    df: DataFrame | None = None  # set when kind == 'rows' (lazy)
    error: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None


def run_script(
    spark: SparkSession, script: str, stop_on_error: bool = True
) -> list[StatementResult]:
    """Execute a multi-statement script sequentially (the reference's
    executor loop, web_scheduler.py:920-935). DDL/DML statements run
    eagerly; SELECTs return a lazy DataFrame per StatementResult."""
    results: list[StatementResult] = []
    for stmt in split_statements(script):
        kind = classify(stmt)
        try:
            # commands run eagerly inside spark.sql; their df carries
            # any summary output
            results.append(StatementResult(stmt, kind, df=spark.sql(stmt)))
        except Exception as ex:  # noqa: BLE001 — per-statement error capture
            results.append(StatementResult(stmt, kind, error=str(ex)))
            if stop_on_error:
                break
    return results
