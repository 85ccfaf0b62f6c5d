"""Resolved-scan memo in tables.load (r15 optimization).

The memo holds METADATA only (the resolved lazy scan), so the
contract under test is: (1) repeated loads reuse the same plan
handle, (2) an overwrite at the same path self-invalidates via the
layout fingerprint, (3) the returned frame always reflects what is
on disk, (4) pushdown still reaches the scan through a memoized
frame.
"""

from __future__ import annotations

import shutil

import pytest

from etl_spark.tables import _SCAN_CACHE, load


def _copy_fixture(sf_dir, dst, name="nation"):
    shutil.copy(f"{sf_dir}/{name}.parquet", str(dst / f"{name}.parquet"))


def test_repeated_load_hits_memo(spark, sf_dir):
    a = load(spark, sf_dir, "nation")
    b = load(spark, sf_dir, "nation")
    assert a is b  # same resolved handle, no re-resolution


def test_overwrite_invalidates_and_reflects_new_data(spark, sf_dir, tmp_path):
    d = tmp_path / "sfX"
    d.mkdir()
    _copy_fixture(sf_dir, d)
    first = load(spark, str(d), "nation")
    n_first = first.count()
    assert n_first > 0
    # overwrite the table at the SAME path with a subset
    sub = first.limit(3).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(sub), str(d / "nation.parquet"))
    again = load(spark, str(d), "nation")
    assert again is not first
    assert again.count() == 3


def test_distinct_paths_get_distinct_entries(spark, sf_dir, tmp_path):
    d = tmp_path / "sfY"
    d.mkdir()
    _copy_fixture(sf_dir, d)
    a = load(spark, sf_dir, "nation")
    b = load(spark, str(d), "nation")
    assert a is not b
    assert a.count() == b.count()


def test_pushdown_survives_memoized_scan(spark, sf_dir):
    # two different queries over the SAME memoized scan must each get
    # their own pushed filters
    base = load(spark, sf_dir, "nation")
    assert base is load(spark, sf_dir, "nation")
    plan = base.filter("n_nationkey = 3").select("n_name")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "n_nationkey" in plan


def test_events_memo_keys_on_session_timezone(spark, sf_dir):
    # events' ts normalization resolves the session TZ at ANALYSIS
    # time, so a frame analyzed under one TZ must not be served under
    # another (ADVICE r15). Same conf state → same handle.
    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        a = load(spark, sf_dir, "events")
        assert a is load(spark, sf_dir, "events")
        spark.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
        b = load(spark, sf_dir, "events")
        assert b is not a
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert load(spark, sf_dir, "events") is a
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_parallel_sessions_do_not_evict_each_other(spark, sf_dir):
    # two live sessions alternating loads must BOTH stay memoized
    # (the r15 eviction dropped every foreign-session entry on miss)
    other = spark.newSession()
    a1 = load(spark, sf_dir, "nation")
    b1 = load(other, sf_dir, "nation")
    a2 = load(spark, sf_dir, "region")
    b2 = load(other, sf_dir, "region")
    assert load(spark, sf_dir, "nation") is a1
    assert load(other, sf_dir, "nation") is b1
    assert load(spark, sf_dir, "region") is a2
    assert load(other, sf_dir, "region") is b2


def test_memo_bounded_one_entry_per_path(spark, sf_dir, tmp_path):
    d = tmp_path / "sfZ"
    d.mkdir()
    _copy_fixture(sf_dir, d)
    load(spark, str(d), "nation")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"n_nationkey": pa.array([1], pa.int64())}),
        str(d / "nation.parquet"),
    )
    load(spark, str(d), "nation")
    path = f"{d}/nation.parquet"
    assert sum(1 for k in _SCAN_CACHE if k[1] == path) == 1


def test_hot_entry_survives_insert_past_cap(spark, tmp_path, monkeypatch):
    # eviction is least-recently-USED: a table read on every query
    # outlives colder entries inserted after it
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_spark import tables

    monkeypatch.setattr(tables, "_SCAN_CACHE", {})
    monkeypatch.setattr(tables, "_SCAN_CACHE_MAX", 3)
    paths = [str(tmp_path / f"t{i}.parquet") for i in range(4)]
    for p in paths:
        pq.write_table(pa.table({"x": [1]}), p)
    hot = tables.scan_parquet(spark, paths[0])
    cold = tables.scan_parquet(spark, paths[1])
    tables.scan_parquet(spark, paths[2])
    assert tables.scan_parquet(spark, paths[0]) is hot
    tables.scan_parquet(spark, paths[3])  # past the cap
    assert tables.scan_parquet(spark, paths[0]) is hot
    assert tables.scan_parquet(spark, paths[1]) is not cold
