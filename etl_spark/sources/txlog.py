"""Minimal transactional table log over parquet — the multi-writer
piece `saveAsTable` lacks (COVERAGE.md "Known format limitation"; the
delta-spark jars are unavailable in this container, so this implements
the same PROTOCOL shape from public descriptions of Delta/Iceberg
commit semantics, scoped to what the engine needs: atomic commits,
snapshot-isolated reads, optimistic concurrency, time travel, vacuum).

Layout of a tx table at ``path``::

    path/
      _txlog/00000001.json   one entry per committed version
      _txlog/00000002.json
      data/v1-<token>/       one immutable parquet directory per commit

Commit protocol (writer):

1. Write the new data files to a fresh ``data/v?-<token>/`` directory
   (invisible to readers — only the log makes data live).
2. Serialize the log entry to a private temp file in ``_txlog/``.
3. Claim the next version by ``os.link(tmp, _txlog/{v:08d}.json)`` —
   hard-link creation is ATOMIC and fails with EEXIST if another
   writer got there first, in which case re-read the log and retry at
   the next version. Because the link target is the fully-written
   temp file, a version file either does not exist or is complete —
   readers can never observe a torn entry. (A crashed writer leaves
   only an orphan temp/data dir, removed by ``vacuum``.)

On object stores the link step maps to the store's own atomic
primitive (rename-without-overwrite on HDFS/ABFS, conditional PUT on
S3) — the protocol is unchanged.

Reader snapshot: replay entries 1..N (N = requested or latest); the
live set is every data dir added since the most recent ``overwrite``.
A reader holds no locks and never blocks a writer.

Concurrency semantics: the log linearizes commits by version number.
``append`` never conflicts (retry just reslots it); ``overwrite``
is last-writer-wins by log order. Every read-modify-write commit
(upsert, delete, compact, and the index and sketch-state stores built
on this table) is ``rewrite``: a compare-and-swap at the version after
the snapshot it read, re-derived from the new snapshot on a lost race.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_LOG_DIR = "_txlog"
_DATA_DIR = "data"
_MAX_COMMIT_RETRIES = 50


def _survivors(predicate: str) -> Callable[[DataFrame], DataFrame]:
    """The rows a SQL DELETE of ``predicate`` keeps. NOT(p) alone keeps
    only rows where p is FALSE, so a row where p is NULL (e.g. NULL
    doc_id vs `doc_id IN (...)`) would be silently erased; SQL DELETE
    removes only rows where p is TRUE."""
    return lambda snap: snap.filter(f"NOT coalesce(({predicate}), false)")


class TxTable:
    """A parquet table with a filesystem transaction log."""

    def __init__(self, path: str):
        self.path = path
        self._log_path = os.path.join(path, _LOG_DIR)
        # append_once's incremental idempotency ledger (see docstring)
        self._seen_batch_ids: set = set()
        self._batch_scan_upto = 0

    # ---------- write path ----------

    @classmethod
    def create(cls, path: str, df: DataFrame) -> "TxTable":
        """Create a new tx table at ``path`` with ``df`` as version 1.

        The existence check alone would be check-then-act: two
        concurrent creators could both pass it and the loser's reslot
        would silently discard the winner's rows. Creating therefore
        commits with a CAS at exactly version 1 — the loser's commit
        returns None and raises here instead of reslotting."""
        t = cls(path)
        if t.latest_version() != 0:
            raise ValueError(f"tx table already exists at {path}")
        if t._commit(df, action="overwrite", expect_version=1) is None:
            raise ValueError(f"tx table already exists at {path} (lost create race)")
        return t

    def append(self, df: DataFrame) -> int:
        """Commit ``df`` as new rows; returns the committed version."""
        return self._commit(df, action="append")

    def overwrite(self, df: DataFrame) -> int:
        """Commit ``df`` as the table's full new contents."""
        return self._commit(df, action="overwrite")

    def upsert(self, spark: SparkSession, df: DataFrame, keys: list[str]) -> int:
        """Copy-on-write MERGE: rows in ``df`` replace current rows
        with equal ``keys``; everything else is carried over. A
        ``rewrite``, so a writer committing between our snapshot read
        and our commit makes the merge recompute against the new
        snapshot rather than silently base on stale data (the
        lost-update anomaly `saveAsTable` cannot prevent)."""
        return self.rewrite(
            spark,
            lambda snap: snap.join(df.select(*keys), keys, "left_anti").unionByName(df),
        )

    def delete(self, spark: SparkSession, predicate: str) -> int:
        """Copy-on-write DELETE (the takedown path for transactional
        tables, completing ``corpus.delete_docs_from_shards`` for the
        txlog side): commits a new version containing every current
        row NOT matching ``predicate``, as a ``rewrite`` — a concurrent
        writer's rows are never silently resurrected or dropped. The
        matched rows' bytes leave the live snapshot immediately and
        leave DISK when ``vacuum`` retires the superseded version's
        files — run vacuum after a takedown to complete the erasure."""
        return self.rewrite(spark, _survivors(predicate))

    def rewrite(
        self,
        spark: SparkSession,
        derive: Callable[[DataFrame], DataFrame],
        batch_id: int | str | None = None,
    ) -> int | None:
        """The one read-modify-write commit: ``derive(snapshot)`` becomes
        the table's full new contents, committed as a compare-and-swap
        overwrite of the version it was derived from. A lost race
        re-derives from the NEW snapshot, so no concurrent commit is
        silently dropped or based on stale data. With ``batch_id`` the
        commit rides ``append_once``'s ledger: a replayed batch is
        skipped (returns None) and ``derive`` is not called. Returns
        the committed version."""
        if batch_id is not None and self._batch_replayed(batch_id):
            return None
        extra = None if batch_id is None else {"batch_id": batch_id}
        for _ in range(_MAX_COMMIT_RETRIES):
            base = self.latest_version()
            df = derive(self.read(spark, version=base))
            v = self._commit(df, "overwrite", expect_version=base + 1, extra=extra)
            if v is not None:
                if batch_id is not None:
                    self._seen_batch_ids.add(batch_id)
                return v
        raise RuntimeError(f"rewrite of {self.path} kept losing commit races")

    def _commit(
        self, df: DataFrame, action: str, expect_version: int | None = None,
        extra: dict | None = None,
    ) -> int | None:
        """Commit ``df``; returns the version. With ``expect_version``
        the claim is attempted at EXACTLY that slot (compare-and-swap):
        a lost race returns None so the caller can re-derive its input
        from the new snapshot instead of blindly reslotting — required
        for read-modify-write commits like upsert."""
        token = uuid.uuid4().hex[:12]
        # data first: invisible until the log entry lands
        version_guess = self.latest_version() + 1 if expect_version is None else expect_version
        rel_dir = os.path.join(_DATA_DIR, f"v{version_guess}-{token}")
        df.write.mode("errorifexists").parquet(os.path.join(self.path, rel_dir))

        os.makedirs(self._log_path, exist_ok=True)  # a first commit creates the log
        tmp = os.path.join(self._log_path, f".tmp-{token}.json")
        version = version_guess
        for _ in range(_MAX_COMMIT_RETRIES):
            entry = {"version": version, "action": action, "add": rel_dir}
            if extra:
                entry.update(extra)
            with open(tmp, "w") as fh:
                json.dump(entry, fh)
                fh.flush()
                os.fsync(fh.fileno())
            final = os.path.join(self._log_path, f"{version:08d}.json")
            try:
                os.link(tmp, final)  # atomic claim-or-fail
            except FileExistsError:
                if expect_version is not None:
                    # CAS semantics: the slot is gone — the caller's
                    # input is stale. Drop our orphan data (vacuum
                    # would also catch it) and report the lost race.
                    os.remove(tmp)
                    shutil.rmtree(os.path.join(self.path, rel_dir))
                    return None
                version += 1  # append-style: reslot and retry
                continue
            os.remove(tmp)
            return version
        raise RuntimeError(
            f"could not commit to {self.path} after {_MAX_COMMIT_RETRIES} "
            f"contended versions"
        )

    def append_once(self, df: DataFrame, batch_id: int | str) -> int | None:
        """Idempotent append for streaming foreachBatch: the batch id
        is recorded in the log entry, and a replay of an
        already-committed batch (Structured Streaming re-runs the last
        micro-batch after restart) is a no-op — the exactly-once sink
        recipe, with the log as the idempotency ledger. Returns the
        version, or None for a skipped replay. Assumes one streaming
        query per table (replays are sequential, never concurrent),
        which is Structured Streaming's own execution model.

        The ledger check is incremental per TxTable instance: only log
        entries committed since the previous call are read (a naive
        full-history rescan per micro-batch would make a long-running
        stream O(n²) in committed versions); the streaming sink holds
        one instance for the life of the query, so the amortized cost
        per batch is O(new versions)."""
        if self._batch_replayed(batch_id):
            return None
        v = self._commit(df, action="append", extra={"batch_id": batch_id})
        self._seen_batch_ids.add(batch_id)
        return v

    def overwrite_once(self, df: DataFrame, batch_id: int | str) -> int | None:
        """Idempotent OVERWRITE for streaming foreachBatch — the
        append_once ledger applied to full-snapshot commits (the shape
        a streaming SCD2 sink needs: each batch commits the merged
        dimension as the table's new contents exactly once). Returns
        the version, or None for a skipped replay."""
        if self._batch_replayed(batch_id):
            return None
        v = self._commit(df, action="overwrite", extra={"batch_id": batch_id})
        self._seen_batch_ids.add(batch_id)
        return v

    def _batch_replayed(self, batch_id: int | str) -> bool:
        """Incrementally refresh the batch-id ledger from log entries
        committed since the last call, then answer whether
        ``batch_id`` has already committed (shared by ``append_once``,
        ``overwrite_once`` and ``rewrite`` — one ledger, one scan
        cursor)."""
        latest = self.latest_version()
        for v in range(self._batch_scan_upto + 1, latest + 1):
            with open(os.path.join(self._log_path, f"{v:08d}.json")) as fh:
                bid = json.load(fh).get("batch_id")
            if bid is not None:
                self._seen_batch_ids.add(bid)
        self._batch_scan_upto = latest
        return batch_id in self._seen_batch_ids

    def delete_once(
        self, spark: SparkSession, predicate: str, batch_id: int | str
    ) -> int | None:
        """Idempotent copy-on-write DELETE for streaming foreachBatch
        — ``delete`` with ``append_once``'s ledger: a replayed takedown
        micro-batch (restart in the commit-then-advance-checkpoint
        window) is detected and skipped instead of committing a
        second, identical-content version. Returns the version, or
        None for a skipped replay.

        Callers multiplexing streams onto one table must namespace the
        id (``streaming.sinks.run_takedown_sink`` commits
        ``takedown-<n>``) — Structured Streaming numbers every query's
        batches from 0, so a takedown stream and an ingest stream
        sharing a raw integer ledger would mask each other's first
        batches."""
        return self.rewrite(spark, _survivors(predicate), batch_id)

    # ---------- read path ----------

    def latest_version(self) -> int:
        try:
            names = os.listdir(self._log_path)
        except FileNotFoundError:
            return 0
        versions = sorted(
            int(n[:-5]) for n in names if n.endswith(".json") and n[0] != "."
        )
        # stop at the first gap: with the link protocol gaps cannot
        # arise from torn writes, but be defensive about manual edits
        latest = 0
        for v in versions:
            if v != latest + 1:
                break
            latest = v
        return latest

    def history(self, up_to: int | None = None) -> list[dict]:
        end = self.latest_version() if up_to is None else up_to
        out = []
        for v in range(1, end + 1):
            with open(os.path.join(self._log_path, f"{v:08d}.json")) as fh:
                out.append(json.load(fh))
        return out

    def live_dirs(self, version: int | None = None) -> list[str]:
        """Data dirs visible at ``version`` (default: latest)."""
        live: list[str] = []
        for entry in self.history(up_to=version):
            if entry["action"] == "overwrite":
                live = [entry["add"]]
            else:
                live.append(entry["add"])
        return live

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read — latest committed version, or time travel to
        an earlier one. The dir list is resolved ONCE here, so the
        returned frame keeps reading its snapshot even if writers
        commit (or vacuum runs) afterwards."""
        dirs = self.live_dirs(version)
        if not dirs:
            raise ValueError(f"no committed data in tx table {self.path}")
        return spark.read.parquet(*(os.path.join(self.path, d) for d in dirs))

    def changes(
        self,
        spark: SparkSession,
        keys: list[str],
        v_from: int,
        v_to: int | None = None,
    ) -> DataFrame:
        """Change data feed between two committed versions — the
        Delta-CDF surface over the tx log: one row per key whose
        state differs between the ``v_from`` and ``v_to`` snapshots,
        with ``change`` in {'added','removed','changed'} and the list
        of changed columns. Computed as a keyed snapshot diff
        (quality.snapshot_diff — ONE full-outer join on the keys), so
        it is exact under any mix of append/upsert/delete/overwrite
        commits in between, including a row changed and changed BACK
        (net zero -> not reported). ``v_from=0`` means "before the
        table existed": every current row reports as added."""
        from etl_spark.quality import snapshot_diff

        new = self.read(spark, v_to)
        if v_from <= 0:
            old = new.limit(0)
        else:
            old = self.read(spark, v_from)
        return snapshot_diff(old, new, keys)

    # ---------- maintenance ----------

    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        cluster_by: list[str] | None = None,
        bits: int = 6,
    ) -> int:
        """OPTIMIZE: rewrite the current snapshot as ``target_files``
        coalesced files in ONE new version — same rows, fewer files
        (appends and streaming micro-batches fragment the table; scan
        cost at 100 TB tracks file count as much as bytes). A
        ``rewrite``, so a concurrent writer's rows are folded in, never
        clobbered. Old versions stay time-travelable until ``vacuum``.

        ``cluster_by`` upgrades the rewrite to OPTIMIZE ZORDER BY
        (r14): rows are range-clustered on the Morton interleave of
        the named numeric columns' quantile buckets
        (``zonemap.zorder_column``), so a zone map built on the new
        version prunes on EVERY clustered column instead of just one;
        one range shuffle instead of coalesce, same transactional
        contract. Refresh the table's zone map (``zonemap_refresh``)
        after the commit — the rewrite replaces every live file."""
        from pyspark.sql import functions as F

        def _layout(snap: DataFrame) -> DataFrame:
            if not cluster_by:
                return snap.coalesce(target_files)
            from etl_spark.sources.zonemap import zorder_column

            z = zorder_column(snap, cluster_by, bits=bits)
            return (
                snap.withColumn("__zv", z)
                .repartitionByRange(target_files, F.col("__zv"))
                .sortWithinPartitions("__zv")
                .drop("__zv")
            )

        return self.rewrite(spark, _layout)

    def maybe_compact(
        self,
        spark: SparkSession,
        max_live_dirs: int = 16,
        target_files: int = 1,
        cluster_by: list[str] | None = None,
        bits: int = 6,
    ) -> int | None:
        """Threshold-triggered OPTIMIZE — the streaming-ingest
        companion (r14): every append/append_once adds a data dir, so
        a micro-batched table fragments linearly with batch count.
        Call this after appends; it compacts ONLY when the live
        snapshot spans more than ``max_live_dirs`` dirs, so the
        amortized cost is one rewrite per ``max_live_dirs`` batches
        (the small-file debt is repaid before the NEXT scan pays
        interest on it, Delta's optimizeWrite/autoCompact shape).
        Returns the new version, or None when below threshold."""
        if len(self.live_dirs()) <= max_live_dirs:
            return None
        return self.compact(
            spark,
            target_files=target_files,
            cluster_by=cluster_by,
            bits=bits,
        )

    def vacuum(
        self, retain_versions: int = 1, grace_seconds: float = 3600.0
    ) -> list[str]:
        """Delete data dirs referenced by NO snapshot within the last
        ``retain_versions`` versions (plus orphans from crashed
        commits). Returns removed dirs. Readers of retained snapshots
        are unaffected; time travel older than the horizon is not.

        ``grace_seconds`` protects IN-FLIGHT commits: an unreferenced
        data dir (or .tmp log entry) may belong to a writer that has
        finished its parquet write but not yet linked its log entry —
        indistinguishable from a crashed writer's orphan except by
        age. Anything younger than the grace window is left alone
        (the same retention idea Delta's VACUUM applies for exactly
        this race); tests pass grace_seconds=0 to reclaim known
        orphans immediately."""
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1 (the live snapshot)")
        import time

        now = time.time()

        def _old_enough(p: str) -> bool:
            try:
                return now - os.stat(p).st_mtime >= grace_seconds
            except FileNotFoundError:
                return False

        latest = self.latest_version()
        keep: set[str] = set()
        for v in range(max(1, latest - retain_versions + 1), latest + 1):
            keep.update(self.live_dirs(v))
        removed = []
        data_root = os.path.join(self.path, _DATA_DIR)
        for name in sorted(os.listdir(data_root)):
            rel = os.path.join(_DATA_DIR, name)
            full = os.path.join(data_root, name)
            if rel not in keep and _old_enough(full):
                shutil.rmtree(full)
                removed.append(rel)
        for name in os.listdir(self._log_path):
            full = os.path.join(self._log_path, name)
            if name.startswith(".tmp-") and _old_enough(full):
                os.remove(full)
        return removed
