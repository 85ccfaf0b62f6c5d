"""Streaming sinks and stream-stream joins.

The reference's ingest loop re-runs full batch loads on a timer
(web_scheduler.py:1289-1582); its closest analog to a streaming sink
is the truncate-and-load script rerun. Here the same "keep a serving
table current" goal runs incrementally:

- `run_merge_sink`: foreachBatch → keyed MERGE into a managed table
  per micro-batch, reusing the batch layer's partition-scoped
  `upsert` (sources/writers.py). Checkpoint + idempotent-by-key merge
  gives effective exactly-once table state even when a batch replays
  after a crash — the replayed rows overwrite themselves.
- `run_txlog_sink`: exactly-once append into a transactional table —
  its ledger records each batch id, so a replayed batch is skipped.
- `interval_join`: watermarked stream-stream equi-join with an
  event-time interval bound — the enrichment join (clicks within an
  hour of the impression) that a polling loop can only fake with
  repeated full scans. State on both sides is bounded by the
  watermark; expired rows are evicted.

Scale: each micro-batch pays exactly the batch operator's cost on the
DELTA (one key shuffle for the merge; partition-scoped rewrite keeps
the write proportional to touched partitions, not table size). The
stream-stream join shuffles both deltas on the join key and holds
only the watermark horizon in state.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_spark.sources.writers import upsert as _upsert
from etl_spark.streaming.neardup import drain


def run_merge_sink(
    stream_df: DataFrame,
    table: str,
    keys: list[str],
    checkpoint: str,
) -> StreamingQuery:
    """Keep ``table`` current from a stream: per micro-batch, MERGE
    the delta on ``keys`` (insert-or-replace — the reference's
    `INSERT OR REPLACE` semantics, web_scheduler.py:4510-4513, driven
    by a stream instead of a cron rerun). Idempotent on replay. The
    owning session sees each merge made in foreachBatch's clone: it keeps
    no resolved-relation cache (``session._DEFAULTS``)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # within one batch, keep the LAST version per key (files can
        # carry multiple updates of the same key; merge needs unique
        # keys to be deterministic). max_by on a monotonic ts if
        # present, else arbitrary-but-single via drop_duplicates.
        delta = batch_df.dropDuplicates(keys)
        _upsert(delta, table, keys)

    return drain(stream_df, _merge, checkpoint)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    tolerance: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner equi-join on ``key`` where the right event
    lands within ``[left.ts, left.ts + tolerance]`` — the streaming
    as-of/enrichment correlation (impression→click). Both sides are
    watermarked so join state is evicted once the interval can no
    longer be satisfied; columns come out prefixed ``l_`` / ``r_``.

    At scale: both streams shuffle on ``key`` only; state per side is
    (watermark + tolerance) worth of rows per key — bounded, unlike
    the reference's repeated full-table correlation scans."""
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c not in (key, "ts")
        ],
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in (key, "ts")
        ],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {tolerance}"))
    )
    return l.join(r, cond, "inner")


def enrich_stream(
    events: DataFrame, dim: DataFrame, key: str, how: str = "left"
) -> DataFrame:
    """Stream-STATIC enrichment join: attach dimension attributes to a
    live event stream (user→profile, shop→region — the streaming twin
    of the reference's per-query dashboard joins). No watermark and no
    join state is needed (unlike stream-stream interval_join), and
    left rows always pass through even when the dim has no match.
    The static side's VALUES are re-read per micro-batch, but a plain
    file source pins its file listing at plan time — to roll out a
    dim update, restart the query from its checkpoint with a fresh
    reader (exactly-once continues; the test proves this), or back
    the dim with a table format whose snapshot resolves per batch.

    Scale: the dim side is broadcast-hinted — the stream never
    shuffles for the join, each executor probes a local hash map.
    For dims too big to broadcast, pre-bucket the dim table on the
    key and let the stream side shuffle once per micro-batch."""
    return events.join(F.broadcast(dim), on=key, how=how)


def run_txlog_sink(
    stream_df: DataFrame,
    tx_table,
    checkpoint: str,
) -> StreamingQuery:
    """Stream into a transactional table (`sources/txlog.TxTable`)
    with END-TO-END exactly-once: Structured Streaming's checkpoint
    makes batch ids stable across restarts, and ``append_once``
    records each id in the transaction log, so a replayed micro-batch
    (the restart-after-commit window where the checkpoint hasn't
    advanced yet) is detected in the LOG and skipped — idempotency
    lives in the sink's own ledger, not in the stream engine's
    promise. Readers get snapshot isolation over the growing table."""

    def _commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            tx_table.append_once(batch_df, batch_id)

    return drain(stream_df, _commit_batch, checkpoint, output_mode="append")


def run_validating_sink(
    stream_df: DataFrame,
    rules: dict[str, str],
    out_path: str,
    dlq_path: str,
    checkpoint: str,
    on_batch=None,
) -> StreamingQuery:
    """Validation-split ingest with a DEAD-LETTER QUEUE: each
    micro-batch is split by ``quality.split_by_rules`` — rows passing
    every row-level contract land under ``out_path``, rejects land
    under ``dlq_path`` WITH their ``_violations`` triage column, so
    bad data is quarantined and diagnosable instead of silently
    dropped or poisoning the table. Replay-idempotent via the same
    batch-subdirectory commit pattern as the near-dup ingest (a
    re-run batch overwrites identical content). ``on_batch(batch_id,
    n_valid, n_rejected)`` feeds the monitor's alert conditions (a
    reject-rate spike is the canary for an upstream schema drift)."""
    import os

    from etl_spark.quality import split_by_rules

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        valid, rejected = split_by_rules(batch_df, rules)
        valid = valid.persist()
        rejected = rejected.persist()
        try:
            n_valid, n_rej = valid.count(), rejected.count()
            if n_valid:
                valid.write.mode("overwrite").parquet(
                    os.path.join(out_path, f"batch-{batch_id}")
                )
            if n_rej:
                rejected.write.mode("overwrite").parquet(
                    os.path.join(dlq_path, f"batch-{batch_id}")
                )
        finally:
            valid.unpersist()
            rejected.unpersist()
        if on_batch is not None:
            on_batch(batch_id, n_valid, n_rej)

    return drain(stream_df, _ingest, checkpoint, output_mode="append")


def run_takedown_sink(
    stream_df: DataFrame,
    tx_table,
    checkpoint: str,
    layout_paths: tuple[str, ...] = (),
    id_col: str = "doc_id",
    on_batch=None,
) -> StreamingQuery:
    """Streaming right-to-be-forgotten: each micro-batch is a set of
    document ids to erase, applied to BOTH storage tiers the corpus
    lives in — the transactional table (txlog copy-on-write
    ``delete_once``) and any ``write_training_shards`` layouts
    (``corpus.delete_docs_from_shards``, which rewrites only the
    shards the ids hash to). ``on_batch(batch_id, ids, affected_shards,
    version)`` is the audit hook (version None = replayed batch).

    Replay idempotence is layered to survive a crash ANYWHERE between
    the two tiers: shard layouts are erased FIRST and are naturally
    idempotent (a replay probes the victims' shards, finds them
    already clean via the anti-join, and rewrites nothing — untouched
    files stay byte-identical); the txlog delete then commits with the
    batch id in its ledger (namespaced ``takedown-<n>`` so an ingest
    stream's ids can't collide), so a replay after a completed commit
    is detected and skipped rather than committing a duplicate
    version. Net effect: exactly-once erasure per request batch, with
    the txlog commit as the durable completion marker.

    Scale: the request batch is collected to the driver — takedown
    requests are human/legal-scale (thousands), not corpus-scale, and
    ``delete_docs_from_shards``'s contract needs the ids driver-side
    to compute the affected shards WITHOUT scanning the corpus. The
    txlog delete is one copy-on-write rewrite of live data per batch;
    run ``vacuum`` afterwards to retire the superseded bytes from
    disk and complete the erasure."""
    from etl_spark.extensions.corpus import delete_docs_from_shards

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        ids = sorted(
            int(r[0])
            for r in batch_df.select(id_col).distinct().collect()
            if r[0] is not None
        )
        if not ids:
            return
        spark = batch_df.sparkSession
        affected: list[int] = []
        for lp in layout_paths:
            affected.extend(delete_docs_from_shards(spark, lp, ids))
        pred = f"{id_col} IN ({', '.join(str(i) for i in ids)})"
        version = tx_table.delete_once(spark, pred, f"takedown-{batch_id}")
        if on_batch is not None:
            on_batch(batch_id, ids, sorted(set(affected)), version)

    return drain(stream_df, _apply, checkpoint)


def run_scd2_sink(
    stream_df: DataFrame,
    table_path: str,
    keys: list[str],
    ts_col: str,
    checkpoint: str,
    on_batch: Callable[[int, int], Any] | None = None,
) -> StreamingQuery:
    """Maintain a type-2 dimension from an observation stream — each
    micro-batch merges into the txlog-backed dimension
    (operators/scd.py semantics: latest per key wins, no-ops and
    replayed observations drop) and commits the new snapshot with
    ``overwrite_once``, so the batch-id ledger gives exactly-once
    version history even across restarts, on TOP of scd2_merge's own
    observation-level replay guard (belt and braces: the ledger stops
    duplicate versions, the guard stops duplicate content). The first
    batch creates the table. ``on_batch(batch_id, n_dim_rows)``."""
    import os

    from etl_spark.operators.scd import scd2_init, scd2_merge
    from etl_spark.sources.txlog import TxTable

    state: dict = {}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        t = state.get("t")
        if t is None:
            if os.path.isdir(os.path.join(table_path, "_txlog")):
                t = TxTable(table_path)
            else:
                t = TxTable.create(
                    table_path, scd2_init(batch_df.limit(0), keys, ts_col)
                )
            state["t"] = t
        if t._batch_replayed(batch_id):
            return
        seen = Observation()  # the dimension's row count, taken on its write
        new_dim = scd2_merge(t.read(spark), batch_df, keys, ts_col).observe(
            seen, F.count(F.lit(1)).alias("n")
        )
        if t.overwrite_once(new_dim, batch_id) is not None and on_batch is not None:
            on_batch(batch_id, seen.get["n"])

    return drain(stream_df, _apply, checkpoint)
