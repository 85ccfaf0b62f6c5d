"""One owner for session state: registered queries and the CC loop run
on child sessions (session.scoped_session) and never write the
caller's confs, even with another thread querying the same session.
"""

from __future__ import annotations

import ast
import re
import threading
import time
from pathlib import Path

import pytest

import etl_spark
from etl_spark.extensions.dedup import connected_components
from etl_spark.registry import all_specs

PKG = Path(etl_spark.__file__).parent

# (file under etl_spark/, innermost enclosing function) of every
# session-conf write the package may make
_CONF_WRITE_ALLOWLIST = {
    ("session.py", "scoped_session"),  # a fresh child, before anyone sees it
    ("sources/writers.py", "_dynamic_overwrite"),  # insertInto ignores the option
    ("tables.py", "load"),  # nanosAsLong read format
    ("streaming/monitor.py", "stream_events"),  # nanosAsLong read format
}
_CONF_WRITE = re.compile(r"\.conf\.(un)?set\(")


def _conf_write_sites():
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        spans = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for i, line in enumerate(src.splitlines(), 1):
            if _CONF_WRITE.search(line):
                owners = [s for s in spans if s[0] <= i <= s[1]]
                yield (
                    path.relative_to(PKG).as_posix(),
                    max(owners)[2] if owners else "<module>",
                    i,
                )


def test_conf_writes_only_at_allowlisted_sites():
    sites = list(_conf_write_sites())
    stray = [s for s in sites if s[:2] not in _CONF_WRITE_ALLOWLIST]
    assert not stray, f"session-conf writes outside the allowlist: {stray}"
    # a removed site must leave the allowlist too
    assert {s[:2] for s in sites} == _CONF_WRITE_ALLOWLIST


def _session_conf_registrations() -> set[str]:
    """Names of the queries registered with ``session_confs=``."""
    names = set()
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "register"
                and any(k.arg == "session_confs" for k in node.keywords)
            ):
                names.add(node.args[0].value)
    return names


def test_registered_queries_leave_caller_confs_untouched(spark, sf_dir):
    specs = all_specs()
    sample = sorted(
        _session_conf_registrations()
        | {
            "x85_pagerank_trade_graph",
            "x69_cluster_size_histogram",
            "q01_pricing_summary",
            "e13_last_touch_attribution",
        }
    )
    before = dict(spark.conf.getAll)
    for name in sample:
        specs[name].fn(spark, sf_dir).collect()
        after = dict(spark.conf.getAll)
        changed = {
            k: (before.get(k), after.get(k))
            for k in before.keys() | after.keys()
            if before.get(k) != after.get(k)
        }
        assert not changed, f"{name} changed the caller's confs: {changed}"


def test_concurrent_caller_never_sees_cc_loop_confs(spark, sf_dir):
    """Thread A runs x69 (its CC loop runs with AQE off for seconds);
    thread B queries and reads the same session meanwhile."""
    from test_oracle import _assert_parity

    aqe = "spark.sql.adaptive.enabled"
    assert spark.conf.get(aqe) == "true"
    a_done = threading.Event()
    errors: list[BaseException] = []
    seen: list[str] = []

    def thread_a():
        try:
            _assert_parity(spark, sf_dir, "x69_cluster_size_histogram")
        except BaseException as ex:  # noqa: BLE001 — re-raised below
            errors.append(ex)
        finally:
            a_done.set()

    def thread_b():
        try:
            while True:
                for _ in range(20):
                    seen.append(spark.conf.get(aqe))
                    time.sleep(0.005)
                _assert_parity(spark, sf_dir, "q01_pricing_summary")
                if a_done.is_set():
                    break
        except BaseException as ex:  # noqa: BLE001 — re-raised below
            errors.append(ex)

    threads = [threading.Thread(target=thread_a), threading.Thread(target=thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    if errors:
        raise errors[0]
    assert seen and set(seen) == {"true"}


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_cc_round_failure_leaves_caller_session_as_found(spark, monkeypatch):
    """A round that raises mid-loop must leave no conf changed and no
    RDD persisted behind it."""
    import pyspark.sql

    class FailingObservation(pyspark.sql.Observation):
        rounds = 0

        @property
        def get(self):
            FailingObservation.rounds += 1
            if FailingObservation.rounds == 3:
                raise RuntimeError("injected CC round failure")
            return super().get

    monkeypatch.setattr(pyspark.sql, "Observation", FailingObservation)
    # a 13-vertex chain needs many more than 3 rounds to converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["doc_a", "doc_b"]
    )
    confs = dict(spark.conf.getAll)
    rdds = _persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="injected CC round failure"):
        connected_components(pairs)
    assert FailingObservation.rounds == 3
    assert dict(spark.conf.getAll) == confs
    assert _persisted_rdd_ids(spark) <= rdds
