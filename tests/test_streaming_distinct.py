"""Streaming exact-distinct state (streaming/distinct.py): the x114
bitmap kernel run as an ingest-time accumulator. Proves (a) counts off
the stored state equal batch countDistinct over everything ingested,
(b) restart from the same checkpoint ingests nothing twice, (c) a
fresh-checkpoint replay of the same deterministic file sequence
changes neither state nor counts (the log's batch-id ledger + bit_or
idempotence), (d) compaction folds the deltas into one data dir with
identical counts.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_spark.sources.txlog import TxTable
from etl_spark.streaming.distinct import (
    bitmap_state,
    compact_bitmap_state,
    distinct_counts,
    run_distinct_ingest,
)

SCHEMA = "ts TIMESTAMP, user_id BIGINT"


def _drop(src, name, rows, mtime=None):
    """Write one source file; ``mtime`` pins the file-stream's batch
    ORDER (the source lists by modification time — two files written
    in the same instant batch in nondeterministic order)."""
    path = str(src / name)
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
        path,
    )
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _stream(spark, src):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def _counts(spark, path):
    return {
        str(r["day"]): r["n_users"]
        for r in distinct_counts(spark, path).collect()
    }


def test_streaming_distinct_end_to_end(spark, tmp_path):
    import datetime as dt

    src = tmp_path / "in"
    src.mkdir()
    state = str(tmp_path / "state")
    d1 = dt.datetime(1995, 3, 1, 10, 0)
    d2 = dt.datetime(1995, 3, 2, 11, 0)
    # batch 0: day1 users {1, 2, 2}, day2 {70}
    _drop(src, "f0.parquet", [(d1, 1), (d1, 2), (d1, 2), (d2, 70)], mtime=1_000_000)
    # batch 1: day1 adds {2, 63} (2 is a dup; 63 lands in chunk 1), day2 {70}
    _drop(src, "f1.parquet", [(d1, 2), (d1, 63), (d2, 70)], mtime=1_000_100)

    seen: list[tuple[int, int]] = []
    q = run_distinct_ingest(
        _stream(spark, src),
        state,
        checkpoint=str(tmp_path / "ckpt"),
        on_batch=lambda bid, n: seen.append((bid, n)),
    )
    q.awaitTermination(120)
    assert sorted(seen) == [(0, 4), (1, 3)]
    assert _counts(spark, state) == {"1995-03-01": 3, "1995-03-02": 1}

    # restart, SAME checkpoint, no new files: nothing re-ingested
    q = run_distinct_ingest(
        _stream(spark, src), state, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert _counts(spark, state) == {"1995-03-01": 3, "1995-03-02": 1}

    # fresh-checkpoint replay of the same deterministic file sequence:
    # committed batch dirs are skipped; state and counts unchanged
    before = sorted(map(tuple, bitmap_state(spark, state).collect()))
    q = run_distinct_ingest(
        _stream(spark, src), state, checkpoint=str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    assert sorted(map(tuple, bitmap_state(spark, state).collect())) == before
    assert _counts(spark, state) == {"1995-03-01": 3, "1995-03-02": 1}

    # late file after the replays: ingests incrementally on top
    d3 = dt.datetime(1995, 3, 3, 9, 0)
    _drop(src, "f2.parquet", [(d3, 5), (d1, 500)])
    q = run_distinct_ingest(
        _stream(spark, src), state, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert _counts(spark, state) == {
        "1995-03-01": 4,
        "1995-03-02": 1,
        "1995-03-03": 1,
    }

    # compaction: deltas fold into one data dir, counts identical
    compact_bitmap_state(spark, state)
    t = TxTable(state)
    assert len(t.live_dirs()) == 1, "deltas must be dropped after compaction"
    t.vacuum(retain_versions=2, grace_seconds=0)
    v = t.latest_version()
    assert {os.path.join("data", d) for d in os.listdir(os.path.join(state, "data"))} <= set(
        t.live_dirs(v) + t.live_dirs(v - 1)
    )
    assert _counts(spark, state) == {
        "1995-03-01": 4,
        "1995-03-02": 1,
        "1995-03-03": 1,
    }
    # and the stream keeps working on top of the compacted base
    _drop(src, "f3.parquet", [(d3, 6)])
    q = run_distinct_ingest(
        _stream(spark, src), state, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert _counts(spark, state)["1995-03-03"] == 2


def test_streaming_distinct_matches_batch_on_fixture(
    spark, sf_dir, tmp_path
):
    """Drain the whole fixture events table through the sink and
    compare against batch countDistinct per day."""
    import shutil

    src = tmp_path / "ev_in"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")
    state = str(tmp_path / "state_fx")
    q = run_distinct_ingest(
        spark.readStream.schema(
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        ).parquet(str(src)),
        state,
        checkpoint=str(tmp_path / "ckpt_fx"),
    )
    q.awaitTermination(120)
    want = {
        str(r["day"]): r["n"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert _counts(spark, state) == want


def test_streaming_hll_state_equals_single_build(spark, sf_dir, tmp_path):
    """Registers accumulated across micro-batches equal one build over
    everything ingested (max-merge associativity), and estimates land
    within the m=128 error envelope of the exact counts."""
    import shutil

    from etl_spark.extensions.sketches import hll_registers
    from etl_spark.streaming.distinct import (
        compact_hll_state,
        hll_distinct_estimates,
        hll_state,
        run_hll_ingest,
    )

    src = tmp_path / "hll_in"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")
    state = str(tmp_path / "hll_state")
    ev_schema = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )
    q = run_hll_ingest(
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        state,
        checkpoint=str(tmp_path / "hll_ckpt"),
    )
    q.awaitTermination(120)

    full = hll_registers(
        spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.to_date("ts").alias("day"), "user_id"
        ),
        ["day"],
        "user_id",
    )
    assert sorted(map(tuple, hll_state(spark, state).collect())) == sorted(
        map(tuple, full.collect())
    )

    exact = {
        str(r["day"]): r["n"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in hll_distinct_estimates(spark, state).collect():
        truth = exact[str(r["day"])]
        assert abs(r["est_distinct"] - truth) <= 0.3 * truth
    # the bias-corrected fold reads the SAME state and stays in the
    # envelope too
    for r in hll_distinct_estimates(spark, state, corrected=True).collect():
        truth = exact[str(r["day"])]
        assert abs(r["est_distinct"] - truth) <= 0.3 * truth

    # compaction preserves the registers bit-for-bit
    before = sorted(map(tuple, hll_state(spark, state).collect()))
    compact_hll_state(spark, state)
    assert sorted(map(tuple, hll_state(spark, state).collect())) == before


def test_distinct_alerts_fire_on_condition(spark, tmp_path):
    import datetime as dt

    from etl_spark.streaming.distinct import distinct_alerts

    src = tmp_path / "al_in"
    src.mkdir()
    state = str(tmp_path / "al_state")
    d1 = dt.datetime(1995, 3, 1, 10, 0)
    d2 = dt.datetime(1995, 3, 2, 10, 0)
    _drop(src, "f0.parquet", [(d1, 1), (d1, 2), (d1, 3), (d2, 9)])
    q = run_distinct_ingest(
        _stream(spark, src), state, checkpoint=str(tmp_path / "al_ckpt")
    )
    q.awaitTermination(120)
    low = distinct_alerts(spark, state, "rows_lt", 2)
    assert [(str(a["day"]), a["n_users"]) for a in low] == [("1995-03-02", 1)]
    high = distinct_alerts(spark, state, "rows_gt", 2)
    assert [(str(a["day"]), a["n_users"]) for a in high] == [("1995-03-01", 3)]
    assert len(distinct_alerts(spark, state, "not_empty")) == 2


def test_compact_crash_window_recovers(spark, tmp_path, monkeypatch):
    """A compaction that dies at the log claim, after writing the
    merged state, leaves the previous state live: the same counts, no
    new data dir visible to readers; the next compaction converges to
    one live dir with the same counts."""
    import datetime as dt

    src = tmp_path / "in"
    src.mkdir()
    state = str(tmp_path / "state")
    d1 = dt.datetime(1995, 3, 1, 10, 0)
    _drop(src, "f0.parquet", [(d1, 1), (d1, 2)], mtime=1_000_000)
    q = run_distinct_ingest(
        _stream(spark, src), state, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    compact_bitmap_state(spark, state)  # users {1,2} now live ONLY in the fold

    # new delta on top of the compacted state
    _drop(src, "f1.parquet", [(d1, 63)], mtime=1_000_100)
    q = run_distinct_ingest(
        _stream(spark, src), state, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert _counts(spark, state) == {"1995-03-01": 3}
    before = sorted(map(tuple, bitmap_state(spark, state).collect()))
    live = TxTable(state).live_dirs()
    assert len(live) == 2

    def _fail_log_claim(*_a, **_k):
        raise OSError("injected failure at the log claim")

    with monkeypatch.context() as m:
        m.setattr("etl_spark.sources.txlog.os.link", _fail_log_claim)
        with pytest.raises(OSError, match="injected"):
            compact_bitmap_state(spark, state)
    assert sorted(map(tuple, bitmap_state(spark, state).collect())) == before
    assert _counts(spark, state) == {"1995-03-01": 3}
    assert TxTable(state).live_dirs() == live
    read = TxTable(state).read(spark).inputFiles()
    assert all(any("/" + d + "/" in f for d in live) for f in read)

    # and a subsequent compact converges
    compact_bitmap_state(spark, state)
    assert len(TxTable(state).live_dirs()) == 1
    assert sorted(map(tuple, bitmap_state(spark, state).collect())) == before
    assert _counts(spark, state) == {"1995-03-01": 3}


def test_replay_after_compaction_changes_nothing(spark, tmp_path):
    """Batches replayed from a fresh checkpoint after a compaction
    (same files, so the same batch ids) commit nothing and never reach
    ``on_batch``: the log keeps every batch id past the compaction."""
    import datetime as dt

    src = tmp_path / "in"
    src.mkdir()
    state = str(tmp_path / "state")
    d1 = dt.datetime(1995, 3, 1, 10, 0)
    _drop(src, "f0.parquet", [(d1, 1), (d1, 2)], mtime=1_000_000)
    _drop(src, "f1.parquet", [(d1, 63)], mtime=1_000_100)
    q = run_distinct_ingest(
        _stream(spark, src), state, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    compact_bitmap_state(spark, state)
    before = sorted(map(tuple, bitmap_state(spark, state).collect()))
    version = TxTable(state).latest_version()

    seen: list[tuple[int, int]] = []
    q = run_distinct_ingest(
        _stream(spark, src),
        state,
        checkpoint=str(tmp_path / "ckpt_fresh"),
        on_batch=lambda bid, n: seen.append((bid, n)),
    )
    q.awaitTermination(120)
    assert seen == []
    assert TxTable(state).latest_version() == version
    assert sorted(map(tuple, bitmap_state(spark, state).collect())) == before
    assert _counts(spark, state) == {"1995-03-01": 3}
