"""Ingestion-time data selection — the DSIR gate (x62/x64) running at
the streaming front door, beside the near-dup filters in
``streaming/neardup.py``.

The importance model (per-bucket smoothed log ratios, x62's
``_dsir_model``) is estimated ONCE from a curated seen corpus and
written as a ``DSIR_BUCKETS``-row parquet table; each micro-batch is
then scored with one broadcast join against that table and rows whose
log importance weight clears the threshold are accepted. The corpus
is never re-read per batch — exactly x64's delta-probe shape, wired
into ``foreachBatch``. Features in buckets the model never saw score
0, not the add-one smoothing artifact: that artifact is positive
whenever the raw corpus outnumbers the target, which would wave
fully-novel gibberish through the gate with the highest scores
(fail-open — review r5; x64's docstring has the full argument).

Exactly-once follows the file-sink commit pattern of ``neardup.py``,
hardened: a batch directory counts as committed only when Spark's
``_SUCCESS`` marker exists — a bare ``isdir`` check would treat a
crashed partial write as done and silently drop the batch's rows on
replay. ``mode("overwrite")`` makes the re-write of a partial
directory safe. Read the accepted output with
``recursiveFileLookup``.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_spark.extensions.resampling import (
    _bigram_bucket_feats,
    _bigram_bucket_matrix,
    _dsir_model,
)
from etl_spark.streaming.neardup import batch_committed, drain, write_counted


def build_dsir_model(docs: DataFrame, model_path: str) -> int:
    """Estimate the importance model from a seen corpus of
    (doc_id, lang, text) rows and persist it: (b, lratio), at most
    ``DSIR_BUCKETS`` rows. Returns the row count written."""
    return write_counted(_dsir_model(_bigram_bucket_matrix(docs)), model_path)


def dsir_score_batch(batch_df: DataFrame, model_df: DataFrame) -> DataFrame:
    """Score one batch of (doc_id, lang, text) rows against a stored
    model: every batch column plus ``logw`` (rounded to 6, x62/x64's
    cross-engine convention) and ``selected`` (logw > 0). Featureless
    docs (fewer than two words — no bigrams) and features in buckets
    the model never saw score 0 and carry no evidence, so an
    all-novel doc is NOT selected (the strict > 0 gate — fail-closed;
    see the module docstring). The LEFT joins keep those rows in the
    output with their true n-feature accounting — inner joins would
    silently drop them."""
    feats = _bigram_bucket_feats(batch_df)
    scored = (
        feats.join(F.broadcast(model_df), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("lratio"), F.lit(0.0))), 6
            ).alias("logw")
        )
    )
    return (
        batch_df.join(scored, "doc_id", "left")
        .withColumn("logw", F.coalesce(F.col("logw"), F.lit(0.0)))
        .withColumn("selected", F.col("logw") > 0)
    )


def run_dsir_gate(
    stream_df: DataFrame,
    model_path: str,
    out_path: str,
    checkpoint: str,
    on_batch: Callable[[int, int, int], Any] | None = None,
) -> StreamingQuery:
    """``foreachBatch`` sink: rows whose importance weight clears the
    gate land under ``out_path/batch-<id>`` (with their ``logw``, so
    downstream resampling can weight by it); the rest are dropped.
    ``on_batch(batch_id, n_in, n_kept)`` is the observability hook.
    The model is loaded once, outside the batch loop; per batch the
    batch source is scanned ONCE — the input count and the kept count
    are both observed on the write of the kept rows."""
    spark = stream_df.sparkSession
    model_df = spark.read.parquet(model_path)

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = os.path.join(out_path, f"batch-{batch_id}")
        if batch_committed(out_dir):
            return  # replayed batch: commit marker on disk
        seen = Observation()
        scored = dsir_score_batch(batch_df, model_df).observe(
            seen, F.count(F.lit(1)).alias("n")
        )
        n_kept = write_counted(scored.filter("selected").drop("selected"), out_dir)
        if on_batch is not None:
            on_batch(batch_id, seen.get["n"], n_kept)

    return drain(stream_df, _gate, checkpoint)


def run_knn_probe(
    stream_df: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    k: int | None = None,
    nprobe: int | None = None,
    on_batch: Callable[[int, int, int], Any] | None = None,
    admit: bool = False,
    pq: bool = False,
) -> StreamingQuery:
    """Ingestion-time ANN retrieval — the streaming face of x72, and
    the retrieval sibling of this module's DSIR gate and neardup's
    index probes: each micro-batch of (vec_id, embedding) rows
    retrieves its top-k neighbors from a ``build_ivf_index`` artifact
    (hard-negative mining / dedup-by-retrieval / RAG labeling at the
    ingest front door) and lands them under ``out_path/batch-<id>``.
    Replay idempotence is the file-sink recipe shared with
    ``run_dsir_gate``: a batch directory carrying ``_SUCCESS`` is
    committed and skipped; a partial write is overwritten.
    ``on_batch(batch_id, n_queries, n_result_rows)`` observes.

    Per batch: centroids load once per probe (nlist rows), candidate
    IO is the probed cells' files only (static partition pruning —
    see ``ivf_index_probe``), work is batch-sized and
    corpus-independent.

    With ``admit=True`` the index REFRESHES as it serves (VERDICT r7
    #7: a build-once index answers from its build-time corpus forever
    while ingest admits docs — retrieval drifts): after a batch's
    probe output commits, the batch itself is appended to the stored
    index via ``ivf_index_append``, so every LATER batch retrieves
    it. Probe-before-append keeps semantics deterministic (a batch
    never retrieves itself) and both steps carry their own _SUCCESS
    commit marker, so a replayed batch re-probes nothing, re-appends
    nothing, and a crash between the two steps heals on replay —
    byte-identical outputs either way.

    ``pq=True`` retrieves through the stored codes tier
    (``ivfpq_index_probe`` over a ``build_ivf_index(pq=True)``
    artifact — ADC rank over 8-byte codes, constant float refine;
    honors residual encoding via the index's pq_meta). The output
    schema is then (qid, vec_id, d2, rk) instead of cosine.
    ``admit`` composes: appended deltas carry a codes tier whenever
    the index has one."""
    import etl_spark.extensions.similarity as _sim

    kk = k if k is not None else _sim.KNN_K
    npb = nprobe if nprobe is not None else _sim.X71_NPROBE

    probe_fn = _sim.ivfpq_index_probe if pq else _sim.ivf_index_probe

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = os.path.join(out_path, f"batch-{batch_id}")
        if not batch_committed(out_dir):
            result = probe_fn(
                batch_df, index_path, k=kk, nprobe=npb
            )
            n_rows = write_counted(result, out_dir)
            n_q = batch_df.count()
            if on_batch is not None:
                on_batch(batch_id, n_q, n_rows)
        if admit:
            # idempotent on its own _SUCCESS marker — heals the
            # probe-committed/append-crashed window on replay
            _sim.ivf_index_append(batch_df, index_path, f"batch-{batch_id}")

    return drain(stream_df, _probe, checkpoint)


def build_benchmark_index(bench_docs: DataFrame, index_path: str, n_buckets: int = 8) -> int:
    """Materialize the DISTINCT word-3-gram shingles of a benchmark/
    eval corpus (the x25 decontamination rule's right-hand side) as a
    stored index partitioned by shingle-hash bucket. Benchmarks are
    small (thousands of docs) but ingest is forever: storing the
    shingle set once means the gate never re-shingles the benchmark.
    Returns the number of distinct shingles stored."""
    from etl_spark.extensions.dedup import shingle_docs

    sh = (
        shingle_docs(bench_docs)
        .select("shingle")
        .distinct()
        .withColumn("bucket", F.pmod(F.xxhash64("shingle"), F.lit(n_buckets)))
        .persist()
    )
    try:
        n = sh.count()
        (
            sh.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("bucket")
            .parquet(index_path)
        )
    finally:
        sh.unpersist()
    return n


def decontam_score_batch(batch_df: DataFrame, index_df: DataFrame) -> DataFrame:
    """Per-document contamination verdict for a batch against the
    stored benchmark shingle set: (all batch columns, n_shared,
    contaminated). Shingle-less docs (under 3 tokens) share nothing
    by definition. The benchmark side is benchmark-sized →
    broadcast; the batch side is one shingle explode + one keyed
    aggregate — batch-sized work, corpus-independent (x25's plan
    shape applied at the ingest front door)."""
    from etl_spark.extensions.dedup import shingle_docs
    from etl_spark.extensions.pipeline import MIN_SHARED_SHINGLES

    hits = (
        shingle_docs(batch_df.select("doc_id", "text"))
        .join(F.broadcast(index_df.select("shingle")), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared"))
    )
    return (
        batch_df.join(hits, "doc_id", "left")
        .withColumn("n_shared", F.coalesce("n_shared", F.lit(0)))
        .withColumn("contaminated", F.col("n_shared") >= MIN_SHARED_SHINGLES)
    )


def run_decontam_gate(
    stream_df: DataFrame,
    index_path: str,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    on_batch: Callable[[int, int, int], Any] | None = None,
) -> StreamingQuery:
    """Benchmark decontamination at the ingest front door — the x25
    rule as a streaming gate beside the DSIR gate and the near-dup
    probe: per micro-batch, docs sharing >= MIN_SHARED_SHINGLES
    distinct 3-grams with the stored benchmark index land under
    ``quarantine_path/batch-<id>`` (with their n_shared, the audit
    column); clean docs land under ``clean_path/batch-<id>``. Replay
    idempotence is the shared file-sink recipe: the CLEAN write
    commits last and is the batch's commit marker, so a crash between
    the two writes replays both (quarantine rows are a pure function
    of the immutable index and the batch — byte-identical either
    way). ``on_batch(batch_id, n_in, n_quarantined)`` observes."""
    spark = stream_df.sparkSession
    index_df = spark.read.parquet(index_path)

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        clean_dir = os.path.join(clean_path, f"batch-{batch_id}")
        if batch_committed(clean_dir):
            return
        # persisted, or the shingle join runs per write (12 jobs, not 9)
        scored = decontam_score_batch(batch_df, index_df).persist()
        try:
            n_bad = write_counted(
                scored.filter("contaminated").drop("contaminated"),
                os.path.join(quarantine_path, f"batch-{batch_id}"),
            )
            n_clean = write_counted(
                scored.filter(~F.col("contaminated")).drop("contaminated", "n_shared"),
                clean_dir,
            )
        finally:
            scored.unpersist()
        if on_batch is not None:
            on_batch(batch_id, n_bad + n_clean, n_bad)

    return drain(stream_df, _gate, checkpoint)
