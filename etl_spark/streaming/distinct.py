"""Streaming EXACT distinct-user state over mergeable bitmap chunks —
x114's kernel (extensions/sketches.py::bitmap_chunks) run as an
ingest-time accumulator, so "distinct users per day" is always
answerable from bounded state without ever re-scanning raw events.

Reference relevance: the reference's monitors re-run COUNT-style SQL
per tick (web_scheduler.py:3354 — each alert evaluation is a full
query against MySQL); a distinct-count monitor done that way re-reads
the whole day's events every tick. Here each micro-batch folds into
per-(day, chunk) BIGINT bitmaps and the count is a popcount sum over
state proportional to the id domain / 63 — never the event volume.

Storage: the state is a ``TxTable`` (sources/txlog.py). Each
micro-batch commits its delta with ``append_once(delta, batch_id)``;
reads take the committed snapshot (the last compaction plus the deltas
since) and always merge it. ``compact_bitmap_state`` is a ``rewrite``
of the snapshot through the merge, which keeps the live dir count
bounded on long-running streams.

Replay story (belt and braces): bit_or is idempotent, so even a
double-applied batch cannot change a bit; on top, the log records each
batch id, so a replayed batch — before or after a compaction — commits
nothing and restarts are byte-identical.

Scale: per batch ONE chunk aggregate (map-side bit_or does the dedup
work) + one bounded write; reads merge the snapshot — state is days x
(domain/63) rows no matter how many events flowed.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_spark.extensions.sketches import (
    bitmap_chunks,
    bitmap_count,
    bitmap_merge,
    hll_estimate,
    hll_estimate_corrected,
    hll_merge,
    hll_registers,
)
from etl_spark.sources.txlog import TxTable
from etl_spark.streaming.neardup import drain

_SCHEMA = "day date, chunk bigint, bits bigint"
_HLL_SCHEMA = "day date, bucket bigint, rho int"


def _merged_state(
    spark: SparkSession,
    path: str,
    merge: Callable[[DataFrame], DataFrame],
    schema: str,
) -> DataFrame:
    """The committed snapshot at ``path`` merged by ``merge``; an
    empty log gives the empty frame with ``schema``."""
    t = TxTable(path)
    if t.latest_version() == 0:
        return spark.createDataFrame([], schema)
    return merge(t.read(spark))


def _ingest_sink(
    stream_df: DataFrame,
    state_path: str,
    checkpoint: str,
    sketch: Callable[[DataFrame, list[str], str], DataFrame],
    on_batch: Callable[[int, int], Any] | None,
) -> StreamingQuery:
    """Drain ``stream_df`` into the state at ``state_path``: each batch's
    ``sketch`` of (day, user_id) is one ``append_once`` commit, and
    ``on_batch(batch_id, n_rows)`` gets the row count observed on that
    write — only when the batch committed (a replay writes nothing)."""
    t = TxTable(state_path)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        seen = Observation()
        batch = batch_df.observe(seen, F.count(F.lit(1)).alias("n"))
        delta = sketch(
            batch.select(F.to_date("ts").alias("day"), "user_id"), ["day"], "user_id"
        )
        if t.append_once(delta, batch_id) is not None and on_batch is not None:
            on_batch(batch_id, seen.get["n"])

    return drain(stream_df, _ingest, checkpoint)


def _compact(spark: SparkSession, path: str, merge: Callable[[DataFrame], DataFrame]) -> None:
    """Fold the snapshot into one data dir: a ``rewrite`` through
    ``merge``, so a crash before the commit leaves the previous state
    live. The replaced version is kept for readers in flight."""
    t = TxTable(path)
    if t.latest_version() == 0:
        return
    t.rewrite(spark, merge)
    t.vacuum(retain_versions=2)


def bitmap_state(spark: SparkSession, path: str) -> DataFrame:
    """The effective (day, chunk, bits) state: the snapshot merged by
    bit_or. Empty state => empty frame with the state schema."""
    return _merged_state(spark, path, bitmap_merge, _SCHEMA)


def distinct_counts(spark: SparkSession, path: str) -> DataFrame:
    """Exact distinct users per day off the stored state — one
    popcount sum over chunk rows, no event scan."""
    return bitmap_count(bitmap_state(spark, path), ["day"])


def run_distinct_ingest(
    stream_df: DataFrame,
    state_path: str,
    checkpoint: str,
    on_batch: Callable[[int, int], Any] | None = None,
) -> StreamingQuery:
    """``foreachBatch`` sink maintaining the daily distinct-user
    bitmap state from an events stream (needs ``ts`` and ``user_id``
    columns). ``on_batch(batch_id, n_rows)`` is the observability
    hook, called for each committed batch. A replayed batch commits
    nothing, and bit_or idempotence makes even an unexpected
    double-apply harmless."""
    return _ingest_sink(stream_df, state_path, checkpoint, bitmap_chunks, on_batch)


def compact_bitmap_state(spark: SparkSession, path: str) -> None:
    """Fold the state's deltas into one bit_or-merged data dir."""
    _compact(spark, path, bitmap_merge)


# --- HLL twin: bounded state even when the id domain is unbounded ---------


def hll_state(spark: SparkSession, path: str) -> DataFrame:
    """Effective per-day HLL registers: the snapshot merged by
    element-wise max. Empty state => empty frame."""
    return _merged_state(spark, path, hll_merge, _HLL_SCHEMA)


def hll_distinct_estimates(
    spark: SparkSession, path: str, corrected: bool = False
) -> DataFrame:
    """Per-day distinct-user ESTIMATES off the stored registers.
    ``corrected=True`` switches from the published branch estimator
    (x109's ``hll_estimate``) to the table-free bias-corrected Ertl
    sigma/tau estimator (``hll_estimate_corrected``) — same stored
    state, no branch-point bias bump around 2.5m; prefer it for
    monitors that alert on day-over-day deltas."""
    fold = hll_estimate_corrected if corrected else hll_estimate
    return fold(hll_state(spark, path), ["day"])


def run_hll_ingest(
    stream_df: DataFrame,
    state_path: str,
    checkpoint: str,
    on_batch: Callable[[int, int], Any] | None = None,
) -> StreamingQuery:
    """``foreachBatch`` sink maintaining per-day HLL registers from an
    events stream — the x114-bitmap sink's sibling for UNBOUNDED or
    non-integer id domains: state is days x m registers no matter how
    many distinct ids flow (bitmaps grow with the id domain; registers
    never do). max() is idempotent, so the same replay story as
    ``run_distinct_ingest`` applies (the log's batch ledger as the
    belt, algebra as the braces)."""
    return _ingest_sink(stream_df, state_path, checkpoint, hll_registers, on_batch)


def compact_hll_state(spark: SparkSession, path: str) -> None:
    """Fold the register deltas into one max-merged data dir, the same
    ``rewrite`` as the bitmap twin."""
    _compact(spark, path, hll_merge)


def distinct_alerts(
    spark: SparkSession,
    path: str,
    condition: str,
    threshold: int = 0,
) -> list[dict]:
    """Evaluate the reference's row-count condition map
    (web_scheduler.py:3354-3366 via alerting.evaluate_condition)
    against the EXACT per-day distinct counts in the bitmap state —
    the 'did enough distinct users show up today' monitor, answered
    from bounded state without scanning events. Returns one dict per
    firing day: {day, n_users, condition, threshold}."""
    from etl_spark.alerting import evaluate_condition

    out = []
    for r in distinct_counts(spark, path).collect():
        if evaluate_condition(r["n_users"], condition, threshold):
            out.append(
                {
                    "day": r["day"],
                    "n_users": r["n_users"],
                    "condition": condition,
                    "threshold": threshold,
                }
            )
    return sorted(out, key=lambda d: d["day"])
