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


def test_registered_queries_leave_caller_confs_untouched(spark, sf_dir):
    specs = all_specs()
    sample = [
        # once registered with their own AQE coalescing conf
        "x24_blocked_neardup",
        "x76_kmv_distinct_customers",
        "x79_token_heavy_hitters",
        "x80_priority_sample_revenue",
        "x81_countmin_token_freq",
        "x82_cms_merge_estimates",
        "x83_boolean_token_search",
        "x85_pagerank_trade_graph",
        "x86_fuzzy_name_match",
        "x108_revenue_trend",
        # CC loop, a plain aggregate, a time-zone-sensitive query
        "x69_cluster_size_histogram",
        "q01_pricing_summary",
        "e13_last_touch_attribution",
    ]
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


def test_cc_keeps_only_the_final_round_persisted(spark, sf_dir):
    """x69 persists its CC rounds; once a call returns, only the final
    round, which backs the returned labels, stays persisted. New ids
    are counted rather than the map's size: the map holds weak values,
    so garbage collection may drop older entries at any time."""
    x69 = all_specs()["x69_cluster_size_histogram"]
    held = []  # keep each result (and the round behind it) alive
    for _ in range(5):
        before = _persisted_rdd_ids(spark)
        df = x69.fn(spark, sf_dir)
        df.collect()
        held.append(df)
        assert len(_persisted_rdd_ids(spark) - before) <= 1


def test_load_reads_nanos_events_without_writing_the_conf(spark, tmp_path):
    """An events table whose ``ts`` is INT64 TIMESTAMP(NANOS) loads as
    µs-truncated TIMESTAMP_NTZ, and the caller's conf map is the same
    before and after: the read format comes from the session defaults."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampNTZType

    from etl_spark.tables import events_ts_physical_type, load

    nanos = [1_704_067_200_123_456_789, 1_704_153_600_000_000_999]
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }
        ),
        path,
    )
    assert events_ts_physical_type(path).startswith("timestamp[ns")
    caller = spark.newSession()
    before = dict(caller.conf.getAll)
    df = load(caller, str(tmp_path), "events")
    rows = sorted(df.collect())
    assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
    assert [r.ts for r in rows] == [
        dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
        dt.datetime(2024, 1, 2, 0, 0, 0, 0),
    ]
    assert dict(caller.conf.getAll) == before
