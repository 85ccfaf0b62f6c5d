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

Replay story (belt and braces): bit_or is idempotent, so even a
double-applied batch cannot change a bit; on top, each batch writes
its delta under ``batch-<id>`` with Spark's ``_SUCCESS`` as the commit
marker and replays skip committed dirs (the run_neardup_ingest
convention), so restarts are byte-identical. ``compact_bitmap_state``
folds deltas into ``base`` (the compact_cc_index convention) to keep
the dir count bounded on long-running streams.

Scale: per batch ONE chunk aggregate (map-side bit_or does the dedup
work) + one bounded write; reads union base + deltas and merge —
state is days x (domain/63) rows no matter how many events flowed.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_spark.extensions.sketches import (
    bitmap_chunks,
    bitmap_count,
    bitmap_merge,
)
from etl_spark.streaming.neardup import batch_committed, drain, write_counted

_SCHEMA = "day date, chunk bigint, bits bigint"


def _base_dir(path: str) -> str | None:
    """The committed ``base`` dir, HEALING an interrupted compact
    (ADVICE r10): the compact protocol is tmp-write -> rename(base,
    bak) -> rename(tmp, base) -> rm bak -> rm deltas, and a crash
    between the two renames leaves no ``base`` at all. The folded
    state then still exists — in ``base.tmp`` (the freshly committed
    merge) and ``base.bak`` (the pre-merge fold) — so promote the
    newest committed snapshot back to ``base``. Deltas are never
    dropped until a committed base exists (see ``_compact_state``),
    and bit_or/max idempotence makes re-merging them harmless, so no
    crash point loses state."""
    base = os.path.join(path, "base")
    if batch_committed(base):
        return base
    for cand in ("base.tmp", "base.bak"):
        c = os.path.join(path, cand)
        if batch_committed(c):
            os.rename(c, base)
            return base
    return None


def _state_dirs(path: str) -> list[str]:
    """Committed state dirs: optional ``base`` plus ``batch-<id>``
    deltas in batch order."""
    out = []
    base = _base_dir(path)
    if base is not None:
        out.append(base)
    deltas = []
    for d in glob.glob(os.path.join(path, "batch-*")):
        m = re.fullmatch(r"batch-(\d+)", os.path.basename(d))
        if m and batch_committed(d):
            deltas.append((int(m.group(1)), d))
    out.extend(d for _, d in sorted(deltas))
    return out


def bitmap_state(spark: SparkSession, path: str) -> DataFrame:
    """The effective (day, chunk, bits) state: base ∪ deltas merged
    by bit_or. Empty state => empty frame with the state schema."""
    dirs = _state_dirs(path)
    if not dirs:
        return spark.createDataFrame([], _SCHEMA)
    parts = [spark.read.parquet(d) for d in dirs]
    return parts[0] if len(parts) == 1 else bitmap_merge(*parts)


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
    hook. Batches are skipped when already committed; a re-run of an
    uncommitted batch overwrites its own partial delta, and bit_or
    idempotence makes even an unexpected double-apply harmless."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        d = os.path.join(state_path, f"batch-{batch_id}")
        if batch_committed(d):
            return
        seen = Observation()  # the batch's row count, taken on the delta write
        batch = batch_df.observe(seen, F.count(F.lit(1)).alias("n"))
        delta = bitmap_chunks(
            batch.select(F.to_date("ts").alias("day"), "user_id"), ["day"], "user_id"
        )
        delta.write.mode("overwrite").parquet(d)
        if on_batch is not None:
            on_batch(batch_id, seen.get["n"])

    return drain(stream_df, _ingest, checkpoint)


def _compact_state(
    spark: SparkSession,
    path: str,
    state_fn: Callable[[SparkSession, str], DataFrame],
) -> None:
    """Shared compact protocol (ADVICE r10 factored it out of the
    bitmap/HLL twins): materialize the full merged state to
    ``base.tmp`` FIRST, then rename base->bak, tmp->base, and drop
    bak + deltas — deltas only AFTER a committed base is verified, so
    no crash point leaves less state than before the compact.
    ``_base_dir`` heals the one window (between the two renames)
    where ``base`` itself is briefly absent."""
    dirs = _state_dirs(path)
    if not dirs:
        return
    tmp = os.path.join(path, "base.tmp")
    write_counted(state_fn(spark, path), tmp)
    base = os.path.join(path, "base")
    bak = os.path.join(path, "base.bak")
    shutil.rmtree(bak, ignore_errors=True)  # stale bak from a crashed run
    if os.path.isdir(base):
        os.rename(base, bak)
    os.rename(tmp, base)
    shutil.rmtree(bak, ignore_errors=True)
    if batch_committed(base):
        for d in dirs:
            if os.path.basename(d) != "base":
                shutil.rmtree(d, ignore_errors=True)


def compact_bitmap_state(spark: SparkSession, path: str) -> None:
    """Fold base + deltas into a fresh ``base`` and drop the deltas
    (the compact_cc_index convention) via the crash-safe
    ``_compact_state`` protocol."""
    _compact_state(spark, path, bitmap_state)


# --- HLL twin: bounded state even when the id domain is unbounded ---------

_HLL_SCHEMA = "day date, bucket bigint, rho int"


def hll_state(spark: SparkSession, path: str) -> DataFrame:
    """Effective per-day HLL registers: base ∪ deltas merged by
    element-wise max. Empty state => empty frame."""
    from etl_spark.extensions.sketches import hll_merge

    dirs = _state_dirs(path)
    if not dirs:
        return spark.createDataFrame([], _HLL_SCHEMA)
    parts = [spark.read.parquet(d) for d in dirs]
    return parts[0] if len(parts) == 1 else hll_merge(*parts)


def hll_distinct_estimates(
    spark: SparkSession, path: str, corrected: bool = False
) -> DataFrame:
    """Per-day distinct-user ESTIMATES off the stored registers.
    ``corrected=True`` switches from the published branch estimator
    (x109's ``hll_estimate``) to the table-free bias-corrected Ertl
    sigma/tau estimator (``hll_estimate_corrected``) — same stored
    state, no branch-point bias bump around 2.5m; prefer it for
    monitors that alert on day-over-day deltas."""
    from etl_spark.extensions.sketches import (
        hll_estimate,
        hll_estimate_corrected,
    )

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
    ``run_distinct_ingest`` applies (commit markers as the belt,
    algebra as the braces)."""
    from etl_spark.extensions.sketches import hll_registers

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        d = os.path.join(state_path, f"batch-{batch_id}")
        if batch_committed(d):
            return
        seen = Observation()  # the batch's row count, taken on the delta write
        batch = batch_df.observe(seen, F.count(F.lit(1)).alias("n"))
        delta = hll_registers(
            batch.select(F.to_date("ts").alias("day"), "user_id"), ["day"], "user_id"
        )
        delta.write.mode("overwrite").parquet(d)
        if on_batch is not None:
            on_batch(batch_id, seen.get["n"])

    return drain(stream_df, _ingest, checkpoint)


def compact_hll_state(spark: SparkSession, path: str) -> None:
    """Fold base + register deltas into a fresh ``base`` via the same
    crash-safe ``_compact_state`` protocol as the bitmap twin."""
    _compact_state(spark, path, hll_state)


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
