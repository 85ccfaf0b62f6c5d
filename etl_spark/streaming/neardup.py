"""Ingestion-time near-dup filtering — the streaming front door of a
training-data pipeline, for all THREE dedup modalities:

- text: MinHash-LSH band keys (``dedup.band_keys_of`` — x37's probe
  unit);
- embeddings: banded hyperplane signatures
  (``similarity.embedding_band_keys_of`` — x44's probe unit);
- exact segments: fixed-width word segments (``corpus._segments`` —
  x59's probe unit) with the overlap-fraction drop rule
  (``min_frac``), since sharing ONE segment with the corpus is
  normal and sharing most of them is the boilerplate signal.

Each micro-batch is probed against a durable parquet band INDEX of
everything accepted so far: rows sharing any band bucket with the
index are dropped, survivors are appended to the output AND their
band rows to the index. This is the streaming composition of the
batch operators x37/x44 (delta-vs-corpus band probe) — the corpus is
never re-paired; per batch the only work is one equi-join keyed on
the band hash (batch-sized probe side vs. stored index) plus two
appends.

Exactly-once: ``foreachBatch`` re-runs a batch after failure, so both
appends are made idempotent by writing each batch under a
``batch-<id>`` subdirectory and skipping work when its ``_SUCCESS``
marker exists — the standard file-sink commit pattern. Read the output/index with
``spark.read.option("recursiveFileLookup", "true").parquet(path)``
(plain parquet reads don't descend into non-partition subdirs). State is the on-disk index, not executor memory, so a
restart resumes from the checkpoint with the index intact.

Intra-batch duplicates are NOT collapsed here by design: within one
micro-batch no row is "seen before" the other, and collapsing would
need the pair→cluster step (x29). Compose ``dedup_stream`` (exact
key dedup) upstream and run x04+x29 over the accepted corpus for the
periodic full sweep.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def batch_committed(batch_dir: str) -> bool:
    """True iff a foreachBatch output directory is a COMPLETED write:
    Spark's file sink drops ``_SUCCESS`` as the final commit step, so
    its absence means the previous attempt died mid-write and the
    batch must be re-run — a bare ``isdir`` check would treat a
    crashed partial write as committed and silently drop the batch's
    rows on replay (review r5). ``mode("overwrite")`` makes re-running
    a partial directory safe."""
    return os.path.isfile(os.path.join(batch_dir, "_SUCCESS"))


def drain(
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "update",
) -> StreamingQuery:
    """The one start path of every streaming sink: run ``fn`` as the
    ``foreachBatch`` body over all input pending now, then stop
    (``availableNow``). A standing monitor is the same drain re-run on
    a schedule against the same ``checkpoint``; each run picks up only
    what arrived since the last.

    ``checkpoint`` is required: every sink skips replays on markers
    named by batch id, and batch ids are stable only across runs that
    share a checkpoint. A run without one restarts at batch 0, finds
    the previous run's committed ``batch-0`` / ``v0`` and silently
    skips its new input."""
    return (
        stream_df.writeStream.foreachBatch(fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_counted(df: DataFrame, path: str) -> int:
    """Overwrite ``path`` with ``df`` as parquet and return the number
    of rows written, observed on that same write (``Dataset.observe``):
    no persist to leak when the write raises, no separate count job.
    Static overwrite mode guarantees the ``_SUCCESS`` marker that
    ``batch_committed`` reads."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .parquet(path)
    )
    return obs.get["n"]


def _index_has_data(path: str) -> bool:
    """True iff the Spark reader would find data under ``path``. The
    walk must skip '_'/'.'-prefixed directories (``_temporary``,
    ``.staging``) exactly as Spark's file index does: counting a
    crashed write's _temporary part-files here while the reader sees
    zero data files turns the replay into an unrecoverable
    'Unable to infer schema' crash-loop (review r5)."""
    if not os.path.isdir(path):
        return False
    for root, dirs, fs in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in fs
        ):
            return True
    return False


def neardup_filter_batch(
    batch_df: DataFrame,
    bands_fn: Callable[[DataFrame], DataFrame],
    id_col: str,
    index_path: str,
    min_frac: float = 0.0,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch step, pure DataFrame-in/DataFrame-out (shared
    by the sink below and its tests): returns ``(kept, kept_bands)``
    where ``kept`` is ``batch_df`` minus rows whose band rows collide
    with the stored index, and ``kept_bands`` are the survivors' band
    rows (what the caller appends to the index).

    ``bands_fn(batch_df)`` must return ``id_col`` plus one or more
    band columns; the probe joins on ALL non-id columns, so the same
    code serves (band_id, band_key) text bands, (band, sig) embedding
    bands, and raw (seg,) exact segments (x59's probe unit).

    ``min_frac`` selects the drop rule: 0.0 (default) drops on ANY
    index collision — correct for LSH bands, where one shared bucket
    IS the near-dup signal; a positive value drops only rows whose
    fraction of distinct band values already in the index EXCEEDS it
    — the x59 boilerplate-overlap gate, where sharing one 4-word
    segment with the corpus is normal and sharing most of them is the
    signal."""
    spark = batch_df.sparkSession
    bands = bands_fn(batch_df)
    band_cols = [c for c in bands.columns if c != id_col]
    if not band_cols:
        raise ValueError(f"bands_fn returned no band columns besides {id_col!r}")
    if _index_has_data(index_path):
        from pyspark.sql import functions as F

        seen = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(index_path)
            .select(band_cols)
        )
        if min_frac <= 0.0:
            dup_ids = (
                bands.join(seen, band_cols, "left_semi").select(id_col).distinct()
            )
        else:
            tot = bands.groupBy(id_col).agg(
                F.count_distinct(*band_cols).alias("n_tot")
            )
            hits = (
                bands.join(seen, band_cols, "left_semi")
                .groupBy(id_col)
                .agg(F.count_distinct(*band_cols).alias("n_hit"))
            )
            dup_ids = (
                tot.join(hits, id_col)
                .filter(F.col("n_hit") > min_frac * F.col("n_tot"))
                .select(id_col)
            )
        kept = batch_df.join(dup_ids, id_col, "left_anti")
    else:
        kept = batch_df
    kept_bands = bands.join(kept.select(id_col), id_col, "left_semi")
    return kept, kept_bands


def run_neardup_ingest(
    stream_df: DataFrame,
    bands_fn: Callable[[DataFrame], DataFrame],
    id_col: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    on_batch: Callable[[int, int, int], Any] | None = None,
    min_frac: float = 0.0,
) -> StreamingQuery:
    """``foreachBatch`` sink: accepted rows land under ``out_path``,
    their band rows under ``index_path``; near-dups of anything
    previously accepted are dropped (``min_frac`` — see
    ``neardup_filter_batch`` — selects any-collision LSH semantics or
    the x59 overlap-fraction gate). ``on_batch(batch_id, n_in,
    n_kept)`` is the observability hook (the count the monitor's
    alert conditions consume)."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        out_dir = os.path.join(out_path, f"batch-{batch_id}")
        idx_dir = os.path.join(index_path, f"batch-{batch_id}")
        if batch_committed(out_dir) and batch_committed(idx_dir):
            return  # replayed batch: both commit markers on disk
        # re-run: DELETE the uncommitted batch dirs BEFORE probing.
        # A crashed attempt may have flushed part of this batch's own
        # band rows into idx_dir; probing an index containing them
        # would drop the batch's rows as near-dups of THEMSELVES and
        # then overwrite the committed output with the shrunken set —
        # silent data loss (review r5). Deleting restores the index
        # to its pre-batch state, so the recompute is byte-identical
        # to a first run. (out_dir partials go too: overwrite mode
        # would clear them anyway, this keeps the pair symmetric.)
        for d in (out_dir, idx_dir):
            if os.path.isdir(d):
                shutil.rmtree(d)
        kept, kept_bands = neardup_filter_batch(
            batch_df, bands_fn, id_col, index_path, min_frac=min_frac
        )
        kept = kept.persist()  # two consumers: count/out + band semi-join
        try:
            n_in = batch_df.count()
            n_kept = kept.count()
            # out first, index second: a crash between the two re-runs
            # the batch (idx_dir missing), and rewriting out_dir is an
            # overwrite of identical content — never a duplicate append
            kept.write.mode("overwrite").parquet(out_dir)
            kept_bands.write.mode("overwrite").parquet(idx_dir)
        finally:
            kept.unpersist()
        if on_batch is not None:
            on_batch(batch_id, n_in, n_kept)

    return drain(stream_df, _ingest, checkpoint)


# --- ingest-time SEMANTIC DECONTAMINATION (x136's streaming twin) ------
#
# x136 is the batch sweep: flag training docs whose embedding is
# cosine-near any eval-corpus embedding. At ingest time the same gate
# runs per micro-batch against a STORED eval index — the eval corpus
# is fixed and benchmark-sized, so unlike the near-dup index above it
# is built ONCE and never appended to (no self-poisoning window, no
# index writes in the hot path). Candidates come from the identical
# banded-hyperplane signatures (capped eval buckets, the x136/x24
# rule); the exact cosine re-score keeps the drop decision identical
# to the batch sweep's — a band collision alone never drops a row.


def build_decon_index(eval_emb: DataFrame, index_path: str) -> None:
    """Build the stored eval index: banded signatures (hot buckets
    above X24_BUCKET_CAP dropped at BUILD time — a boilerplate-hot
    eval bucket carries no decontamination signal) under
    ``index_path/sigs`` and the eval embeddings (for the exact
    re-score) under ``index_path/emb``. ``eval_emb`` needs
    (vec_id, embedding)."""
    from pyspark.sql import functions as F

    from etl_spark.extensions.similarity import (
        X24_BUCKET_CAP,
        embedding_band_keys_of,
    )

    sigs = embedding_band_keys_of(eval_emb)
    occ = sigs.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("n"))
    capped = (
        sigs.join(occ.filter(F.col("n") <= X24_BUCKET_CAP), ["band", "sig"])
        .select(F.col("vec_id").alias("eval_id"), "band", "sig")
    )
    capped.write.mode("overwrite").parquet(os.path.join(index_path, "sigs"))
    eval_emb.select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("eval_e"),
    ).write.mode("overwrite").parquet(os.path.join(index_path, "emb"))


def decon_filter_batch(
    batch_df: DataFrame,
    id_col: str,
    emb_col: str,
    index_path: str,
    cos_floor: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of the semantic-decontamination gate: returns
    ``(kept, flagged)`` where ``flagged`` is the x136 evidence shape
    (id, n_eval_hits, max_cosine) for rows cosine-near (>= floor) any
    stored eval embedding, and ``kept`` is ``batch_df`` minus them.

    Work per batch: one signature pass over the batch, one equi-join
    against the (broadcast, benchmark-sized) eval sig index, exact
    cosine only on bucket-collision candidates — the x136 plan with
    the corpus side replaced by the batch."""
    from pyspark.sql import functions as F

    from etl_spark.extensions.pipeline import SEMDECON_COS
    from etl_spark.extensions.similarity import _DOT, embedding_band_keys_of

    floor = SEMDECON_COS if cos_floor is None else cos_floor
    spark = batch_df.sparkSession
    seen_sigs = spark.read.parquet(os.path.join(index_path, "sigs"))
    eval_emb = spark.read.parquet(os.path.join(index_path, "emb"))
    b = batch_df.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    bsigs = embedding_band_keys_of(b)
    cand = (
        bsigs.join(F.broadcast(seen_sigs), ["band", "sig"])
        .select("vec_id", "eval_id")
        .distinct()
    )
    be = b.select(
        "vec_id",
        F.col("embedding").alias("ta"),
        F.expr(_DOT.format(a="embedding", b="embedding")).alias("tn2"),
    )
    ee = eval_emb.select(
        "eval_id",
        F.col("eval_e").alias("eb"),
        F.expr(_DOT.format(a="eval_e", b="eval_e")).alias("en2"),
    )
    cos = F.expr(_DOT.format(a="ta", b="eb")) / (
        F.sqrt(F.col("tn2")) * F.sqrt(F.col("en2"))
    )
    flagged = (
        cand.join(be, "vec_id")
        .join(F.broadcast(ee), "eval_id")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= floor)
        .groupBy(F.col("vec_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_hits"),
            F.max(F.round("cosine", 4)).alias("max_cosine"),
        )
    )
    kept = batch_df.join(flagged.select(id_col), id_col, "left_anti")
    return kept, flagged


def run_decon_ingest(
    stream_df: DataFrame,
    id_col: str,
    emb_col: str,
    index_path: str,
    out_path: str,
    flagged_path: str,
    checkpoint: str,
    cos_floor: float | None = None,
    on_batch: Callable[[int, int, int], Any] | None = None,
) -> StreamingQuery:
    """``foreachBatch`` sink for the decontamination gate: clean rows
    land under ``out_path``, flagged evidence rows (the x136 shape)
    under ``flagged_path`` — the audit trail a compliance review
    reads. The eval index is STATIC, so replay idempotence only needs
    the per-batch ``batch-<id>/_SUCCESS`` commit pattern (no index
    restore step — contrast run_neardup_ingest). ``on_batch(batch_id,
    n_in, n_flagged)`` is the observability hook; it fires on EVERY
    delivered batch, including checkpoint-loss replays of an already
    committed one — on that skip path the counts are read back from a
    tiny ``_MANIFEST.json`` written next to the batch's _SUCCESS (the
    leading underscore keeps Spark's parquet reader from treating it
    as data), recording the n_in COUNTED on the original delivery.
    Deriving n_in from kept+flagged rows instead undercounts when a
    flagged id spans multiple input rows — flagged is one row per id
    while the anti-join drops every row of the id (ADVICE r13/r14);
    the derivation survives only as the fallback for batches
    committed before manifests existed (or a crash in the sliver
    between the parquet commits and the manifest write)."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        import json
        import shutil

        out_dir = os.path.join(out_path, f"batch-{batch_id}")
        flag_dir = os.path.join(flagged_path, f"batch-{batch_id}")
        manifest = os.path.join(out_dir, "_MANIFEST.json")
        if batch_committed(out_dir) and batch_committed(flag_dir):
            if on_batch is not None:
                spark = batch_df.sparkSession
                n_flagged = spark.read.parquet(flag_dir).count()
                if os.path.exists(manifest):
                    with open(manifest) as fh:
                        n_in = int(json.load(fh)["n_in"])
                else:
                    # legacy pre-manifest batch: best-effort derivation
                    # (exact iff each flagged id had one input row)
                    n_in = spark.read.parquet(out_dir).count() + n_flagged
                on_batch(batch_id, n_in, n_flagged)
            return
        for d in (out_dir, flag_dir):
            if os.path.isdir(d):
                shutil.rmtree(d)
        kept, flagged = decon_filter_batch(
            batch_df, id_col, emb_col, index_path, cos_floor=cos_floor
        )
        flagged = flagged.persist()  # two consumers: count + write
        try:
            n_in = batch_df.count()
            n_flagged = flagged.count()
            kept.write.mode("overwrite").parquet(out_dir)
            flagged.write.mode("overwrite").parquet(flag_dir)
        finally:
            flagged.unpersist()
        with open(manifest, "w") as fh:
            json.dump({"batch_id": batch_id, "n_in": n_in}, fh)
        if on_batch is not None:
            on_batch(batch_id, n_in, n_flagged)

    return drain(stream_df, _ingest, checkpoint)
