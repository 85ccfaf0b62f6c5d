"""Corpus-layout operators: cross-document segment dedup, temperature
mixture sampling, and deterministic training-order sharding.

These complete the curation → training handoff the x40–x49 family
started (reference has no analog — it is a per-table ETL scheduler):

- x50 segment dedup: the C4/RefinedWeb line-level rule adapted to the
  fixture's unstructured text — drop any fixed-width word segment that
  appears in more than one document, keeping only the lowest-doc_id
  occurrence, then REASSEMBLE the cleaned text (Raffel et al. '20
  §2.2 dedup three-sentence spans corpus-wide; Penedo et al. '23 do
  the same at line granularity).
- x51 temperature sampling: the Pile/Gopher data-mixing step — a
  stratum is sampled at a rate proportional to n^α (α < 1 upweights
  small strata; here stratified by language, the fixture's skewed
  axis), applied via a content-stable hash so the mix is reproducible
  and incremental, never rand() (Gao et al. '20 §1; Rae et al. '21
  table A3).
- x52 training order: deterministic hash-sharding plus in-shard
  order — the global-shuffle-without-a-global-sort every training run
  needs: shard is a scan-local hash bucket, order within a shard is
  the hash itself, so "write each shard sorted" IS the shuffled read
  order and no driver-side permutation ever materializes.
- x54 LM quality scoring: CCNet's perplexity bucketing (Wenzek et
  al. '19) with the KenLM binary replaced by an in-engine corpus
  bigram model — the whole filter is one Spark plan.
- x55 split leakage: the internal decontamination audit — val/test
  docs sharing 3-grams with train docs (Lee et al. '21 §5), i.e. the
  check that x40's content-stable split is actually held out.
- x56 training manifest: the composed final artifact — temperature
  sample ∩ train split, laid out by x52's shard/order with per-doc
  token counts and cumulative in-shard offsets; the index file a
  data loader seeks by.
- x58 curation funnel: the run report — per-stage survivor counts
  (raw → quality → dedup → train split → sample) from the IDENTICAL
  shared stage predicates, via one explode(1..level) aggregate.
- x59 incremental segment dedup: x50's rule as an ingestion-time
  delta probe (new batch vs stored segment index) — completing the
  incremental family across all three dedup modalities (x37 MinHash
  text, x44 embedding bands, x59 exact segments).
- x61 length-bucket packing: fixed-width token-length buckets with
  per-bucket padding-waste accounting — the batch-composition
  efficiency report (no global ntile; scan-local bucket id).

Scale shapes: x51/x52 are scan-local after a |strata|-row broadcast
(x51) or nothing at all (x52's shard column); x50 is two keyed
shuffles (segment frequency, then doc reassembly) — both on uniform
hash keys, no self-join, no quadratic expansion; x54/x55 are keyed
aggregates plus equi-joins on the bigram/shingle respectively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.registry import register
from etl_spark.tables import load

SEG_WORDS = 4  # words per dedup segment (the "line" stand-in)

_DUCK_SEGS = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    segs AS (
        SELECT doc_id, (start - 1) // {SEG_WORDS} AS pos,
               array_to_string(
                   list_slice(t, start, start + {SEG_WORDS} - 1), ' ') AS seg
        FROM (SELECT doc_id, t,
                     unnest(range(1, len(t) + 1, {SEG_WORDS})) AS start
              FROM toks)
    )
"""


@register(
    "x50_segment_dedup",
    oracle=f"""
        {_DUCK_SEGS},
        dup AS (
            SELECT seg, MIN(doc_id) AS keeper
            FROM segs GROUP BY seg
            HAVING COUNT(DISTINCT doc_id) > 1
        ),
        flagged AS (
            SELECT s.doc_id, s.pos, s.seg,
                   (d.keeper IS NULL OR s.doc_id = d.keeper) AS keep
            FROM segs s LEFT JOIN dup d USING (seg)
        )
        SELECT doc_id,
               COALESCE(string_agg(seg, ' ' ORDER BY pos) FILTER (keep), '')
                   AS clean_text,
               CAST(COUNT(*) FILTER (keep) AS BIGINT) AS n_kept,
               CAST(COUNT(*) FILTER (NOT keep) AS BIGINT) AS n_dropped
        FROM flagged GROUP BY doc_id
    """,
    tags=("pipeline", "dedup"),
)
def x50_segment_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document duplicate-SEGMENT removal with text
    reconstruction — the C4 rule ("any three-sentence span occurring
    more than once in the dataset is removed", Raffel '20 §2.2) on
    fixed 4-word segments: a segment duplicated across documents
    survives only in its lowest-doc_id document; every document's
    remaining segments are reassembled in order. This is the
    boilerplate/mirror-page scrub that document-level dedup (x01,
    x04) cannot express, because the duplicated unit is inside
    otherwise-distinct documents.

    Scale shape: segment fan-out is n_words/4 rows per doc (linear);
    the frequency aggregate and the join back are both equi-keyed on
    the segment string (uniform md5-like distribution — no hot key),
    and only segments with corpus frequency > 1 survive into the
    join's build side, which at web scale is the small minority.
    Reassembly is one (doc_id) aggregate — the same key the scan was
    written with, so AQE can often avoid a third full shuffle. No
    self-join, nothing quadratic. Keep-lowest-doc_id (not
    drop-everywhere) preserves exactly one canonical copy, matching
    x46's keep-canonical verdict convention."""
    return segment_dedup(load(spark, sf, "documents"))


def _segments(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, seg) fixed-width word segments — the unit shared
    by x50 (corpus-wide dedup) and x59 (ingestion-time probe)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    return toks.select(
        "doc_id",
        "t",
        F.explode(F.expr(f"sequence(1, size(t), {SEG_WORDS})")).alias("start"),
    ).select(
        "doc_id",
        F.expr(f"(start - 1) DIV {SEG_WORDS}").alias("pos"),
        F.concat_ws(" ", F.expr(f"slice(t, start, {SEG_WORDS})")).alias("seg"),
    )


def segment_dedup(docs: DataFrame) -> DataFrame:
    """Core of x50 over any (doc_id, text) frame — split out so
    property tests can drive synthetic corpora through the exact
    production plan (tests/test_extensions.py hypothesis suite)."""
    segs = _segments(docs)
    dup = (
        segs.groupBy("seg")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.countDistinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") > 1)
        .select("seg", "keeper")
    )
    keep = F.col("keeper").isNull() | (F.col("doc_id") == F.col("keeper"))
    flagged = segs.join(dup, "seg", "left").select(
        "doc_id", "pos", "seg", keep.alias("keep")
    )
    grouped = flagged.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("keep"), F.struct("pos", "seg")))
        ).alias("kept"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
    )
    return grouped.select(
        "doc_id",
        F.concat_ws(" ", F.expr("transform(kept, s -> s.seg)")).alias(
            "clean_text"
        ),
        "n_kept",
        "n_dropped",
    )


MIX_ALPHA = 0.5  # temperature: rate_s ∝ n_s^α (α<1 upweights small sources)
MIX_BUDGET_FRAC = 0.2  # total sample budget as a fraction of the corpus

# identical arithmetic TEXT on both engines: the float expression tree
# must match operation-for-operation so the floor() boundary cannot
# disagree; the +1e-9 absorbs summation-order last-bit noise in wsum
_MIX_THR = (
    f"LEAST(1000, CAST(FLOOR(1000 * {MIX_BUDGET_FRAC} * total * wn / n / wsum"
    " + 1e-9) AS BIGINT))"
)


def _mix_rates(docs: DataFrame) -> DataFrame:
    """(lang, thr) temperature-mix permille thresholds — ONE
    derivation shared by x51 (the sample), x56 (the manifest), and
    x58 (the funnel), so the three can never disagree on the mix
    (the _split_col convention applied to rates)."""
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.pow(F.count(F.lit(1)).cast("double"), MIX_ALPHA).alias("wn"),
    )
    t = c.agg(F.sum("n").alias("total"), F.sum("wn").alias("wsum"))
    return c.crossJoin(F.broadcast(t)).select(
        "lang", F.expr(_MIX_THR).alias("thr")
    )


def _permille_col():
    """Content-stable md5 permille bucket of doc_id (x27's hashing
    convention) — shared by every sampling predicate here."""
    return F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) "
        "AS BIGINT) % 1000"
    )


@register(
    "x51_temperature_mix_sample",
    oracle=f"""
        WITH c AS (
            SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
                   POW(CAST(COUNT(*) AS DOUBLE), {MIX_ALPHA}) AS wn
            FROM documents GROUP BY lang
        ),
        t AS (SELECT SUM(n) AS total, SUM(wn) AS wsum FROM c),
        r AS (SELECT lang, {_MIX_THR} AS thr FROM c, t)
        SELECT d.doc_id, d.lang,
               ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 1000 AS permille
        FROM documents d JOIN r USING (lang)
        WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 1000 < r.thr
    """,
    tags=("pipeline",),
)
def x51_temperature_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based mixture sampling (the Pile/Gopher
    α-weighting): stratum s receives sampling weight n_s^α / Σ n^α,
    so with α=0.5 a stratum 100× larger contributes only 10× more —
    the standard counter to majority-class dominance. Stratified on
    ``lang`` (the fixture's genuinely skewed axis: en dominates ~3×;
    ``source`` is uniform by construction) — language rebalancing is
    the most common real instance of this op. The per-stratum rate
    (budget·w_s / n_s, capped at 1) converts to a permille threshold
    on the same content-stable md5 bucket x27 uses, so membership is
    reproducible and auditable — and, unlike x27's hand-set rates,
    DERIVED from the observed mix. Incrementality is therefore rate-
    conditional: under a FROZEN rate table membership is fully stable
    as the corpus grows (x27's property); re-deriving rates on a
    grown corpus shifts only each stratum's threshold, so membership
    changes only for docs whose hash bucket sits between the old and
    new thresholds — never a reshuffle of the kept set (x40/x52's
    unconditional stability is tested in test_extensions.py;
    the hash-bucket monotonicity is what makes this bounded).

    Scale shape: one |strata|-row aggregate (broadcast back), then a
    scan-local filter — the sample NEVER shuffles the corpus. The
    float threshold is computed with an identical expression tree on
    both engines plus a 1e-9 floor-guard, because Σ n^α accumulates
    in engine-dependent order."""
    docs = load(spark, sf, "documents")
    r = _mix_rates(docs)
    permille = _permille_col()
    return (
        docs.join(F.broadcast(r), "lang")
        .withColumn("permille", permille)
        .filter(F.col("permille") < F.col("thr"))
        .select("doc_id", "lang", "permille")
    )


N_SHARDS = 8  # training output shards
_ORD_SEED = "ord1:"  # bump to re-shuffle the corpus deterministically


def _hkey_col(rep_col: str | None = None):
    """Seeded order-hash of doc_id — the epoch-shuffle key shared by
    x52, x56, and write_training_shards/write_epoch, so the computed
    manifest and the written files can never disagree on order.
    ``rep_col`` (upsampled epochs only) mixes the repeat index into
    the hash so a document's copies land in independent shards and
    positions — identical hkeys would place all copies ADJACENT in
    the training stream, the worst possible repetition schedule."""
    base = F.concat(F.lit(_ORD_SEED), F.col("doc_id").cast("string"))
    if rep_col is not None:
        base = F.concat(base, F.lit("#"), F.col(rep_col).cast("string"))
    return F.md5(base)


# shard id from the order-hash: same sharing rationale as _hkey_col
_SHARD_EXPR = (
    f"CAST(conv(substring(hkey, 1, 15), 16, 10) AS BIGINT) % {N_SHARDS}"
)


@register(
    "x52_training_order",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   md5('{_ORD_SEED}' || CAST(doc_id AS VARCHAR)) AS hkey
            FROM documents
        )
        SELECT doc_id,
               ('0x' || substr(hkey, 1, 15))::BIGINT % {N_SHARDS} AS shard,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY ('0x' || substr(hkey, 1, 15))::BIGINT
                                % {N_SHARDS}
                   ORDER BY hkey, doc_id) - 1 AS BIGINT) AS pos
        FROM h
    """,
    tags=("pipeline",),
)
def x52_training_order(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global training-order layout without a global
    sort: each document hashes (seeded md5) to a shard, and its
    position within the shard is its hash rank. Reading shards
    round-robin replays a uniform pseudo-random permutation of the
    corpus — the epoch shuffle — yet the plan contains no
    single-partition ORDER BY and no driver-side permutation; bumping
    the seed string re-shuffles the next epoch end-to-end.

    Scale shape: the shard column is scan-local; the rank is a window
    partitioned by shard, so it parallelizes across shards. At 100 TB
    the materialized `pos` column itself is unnecessary — each shard
    is WRITTEN sorted by hkey (a per-shard sort, embarrassingly
    parallel) and the file order IS the training order; this query
    materializes pos only so the layout is oracle-checkable."""
    h = load(spark, sf, "documents").select(
        "doc_id",
        _hkey_col().alias("hkey"),
    )
    shard = F.expr(_SHARD_EXPR)
    w = Window.partitionBy(shard).orderBy("hkey", "doc_id")
    return h.select(
        "doc_id",
        shard.alias("shard"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


LM_HEAD_BITS = 3.37  # xent below => "head" (most fluent / most common)
LM_TAIL_BITS = 3.40  # xent above => "tail" (rare-heavy / noisy)


@register(
    "x54_lm_quality_score",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
        ),
        pairs AS (
            SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
            FROM (SELECT doc_id, lang, t,
                         unnest(range(1, len(t))) AS i
                  FROM toks)
        ),
        cb AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2),
        cu AS (SELECT w1, SUM(c2) AS c1 FROM cb GROUP BY w1),
        v AS (
            SELECT COUNT(DISTINCT w1) AS vocab
            FROM (SELECT w1 FROM cb
                  UNION ALL SELECT w2 FROM cb) u(w1)
        ),
        nll AS (
            SELECT p.doc_id, p.lang,
                   -ln(CAST(cb.c2 + 1 AS DOUBLE)
                       / CAST(cu.c1 + v.vocab AS DOUBLE)) AS nl
            FROM pairs p JOIN cb USING (w1, w2) JOIN cu USING (w1), v
        ),
        scored AS (
            SELECT doc_id, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   ROUND(AVG(nl), 6) AS xent
            FROM nll GROUP BY doc_id, lang
        )
        SELECT doc_id, lang, n_bigrams, xent,
               CASE WHEN xent < {LM_HEAD_BITS} THEN 'head'
                    WHEN xent > {LM_TAIL_BITS} THEN 'tail'
                    ELSE 'middle' END AS bucket
        FROM scored
    """,
    tags=("pipeline", "quality"),
)
def x54_lm_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. '19
    §4.3): score each document by its cross-entropy under a corpus
    bigram model with add-one smoothing — P(w2|w1) = (c(w1,w2)+1) /
    (c(w1)+V) — then bucket into head/middle/tail the way CCNet
    splits CommonCrawl by KenLM perplexity. Low xent = built from the
    corpus's common collocations (fluent/boilerplate-adjacent); high
    xent = rare-pair-heavy (noisy or out-of-domain). The in-engine
    bigram model replaces the external KenLM binary, so the whole
    filter stays one Spark plan.

    Scale shape: the model IS two keyed aggregates over the corpus's
    bigram stream (c(w1,w2) and c(w1) — Zipf-skewed but these are
    aggregates, where skew is absorbed by map-side partial
    aggregation, not a join hot key). Scoring joins each doc bigram
    to its corpus count — equi-join on the bigram, uniform under
    hashing; the context-count table is vocabulary-sized and
    broadcast. One final (doc_id) aggregate. Cross-engine float
    discipline: identical expression tree, ln() last-ulp noise
    absorbed by ROUND(·, 6); bucket thresholds compare the ROUNDED
    score so the CASE cannot flip between engines."""
    docs = load(spark, sf, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("t")
    )
    # single-word docs have no bigrams: DuckDB's range(1, len(t)) is
    # simply empty at len=1, but Spark's sequence(1, size(t) - 1)
    # DESCENDS ([1, 0] — step defaults to -1 when start > stop) and
    # element_at(t, 2) then kills the job (ADVICE r4 hazard class;
    # regression-tested in test_corpus_ops_degenerate_single_word_doc)
    pairs = docs.filter(F.size("t") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), i -> "
                "struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "lang", "bg.w1", "bg.w2")
    # cu and vocab both derive from cb, NOT from the raw pair stream:
    # c(w1) = Σ_w2 c(w1,w2) and the corpus vocabulary = the distinct
    # words in cb's two columns (cb holds every distinct bigram), so
    # the MODEL is one aggregate over one corpus scan. cb is persisted
    # because its three consumers otherwise each recompute the
    # tokenize+shuffle (per-branch column pruning makes the subtrees
    # non-identical, so ReuseExchange can't dedupe them): with the
    # InMemoryRelation the corpus is scanned twice total (model build
    # + scoring pass), down from five. At 100 TB the same two-phase
    # shape holds with the model written to a table instead of cached
    # — MEMORY_AND_DISK spills rather than OOMs either way. DuckDB's
    # CTE mirrors the same derivation, so counts are identical by
    # construction.
    from pyspark.storagelevel import StorageLevel

    cb = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cu = cb.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (
        cb.select("w1")
        .unionAll(cb.select(F.col("w2").alias("w1")))
        .agg(F.countDistinct("w1").alias("vocab"))
    )
    nll = (
        pairs.join(cb, ["w1", "w2"])
        .join(F.broadcast(cu), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            (
                -F.ln(
                    (F.col("c2") + 1).cast("double")
                    / (F.col("c1") + F.col("vocab")).cast("double")
                )
            ).alias("nl"),
        )
    )
    scored = nll.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nl"), 6).alias("xent"),
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "xent",
        F.when(F.col("xent") < LM_HEAD_BITS, F.lit("head"))
        .when(F.col("xent") > LM_TAIL_BITS, F.lit("tail"))
        .otherwise(F.lit("middle"))
        .alias("bucket"),
    )


LEAK_MIN_SHINGLES = 2  # shared-3-gram threshold to flag an eval doc


def _duck_split() -> str:
    """DuckDB twin of pipeline._split_col (same md5 permille
    boundaries) — imported constants keep the two in lockstep."""
    from etl_spark.extensions.pipeline import SPLIT_TRAIN_PCT, SPLIT_VAL_PCT

    b = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"
    return f"""
        SELECT doc_id,
               CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {b} < {SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """


def _x55_oracle() -> str:
    from etl_spark.extensions.dedup import _DUCK_SHINGLES

    return f"""
        WITH sh AS ({_DUCK_SHINGLES}),
        b AS ({_duck_split()}),
        tagged AS (
            SELECT sh.doc_id, sh.shingle, b.split
            FROM sh JOIN b USING (doc_id)
        ),
        train_sh AS (
            SELECT DISTINCT shingle FROM tagged WHERE split = 'train'
        )
        SELECT t.doc_id, t.split,
               CAST(COUNT(DISTINCT t.shingle) AS BIGINT) AS n_train_shared
        FROM tagged t JOIN train_sh USING (shingle)
        WHERE t.split <> 'train'
        GROUP BY t.doc_id, t.split
        HAVING COUNT(DISTINCT t.shingle) >= {LEAK_MIN_SHINGLES}
    """


@register(
    "x55_split_leakage",
    oracle=_x55_oracle(),
    tags=("pipeline", "dedup"),
)
def x55_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Train→eval leakage audit WITHIN the corpus's own x40 split:
    flag every val/test document sharing ≥2 word-3-grams with any
    train document. x25 decontaminates against an EXTERNAL benchmark;
    this is the internal counterpart — the check that a held-out
    split is actually held out, which content-stable splitting makes
    necessary to VERIFY rather than assume (near-dup docs straddle
    split boundaries precisely because assignment ignores content
    similarity; Lee et al. '21 §5 measure exactly this effect).
    Shares the shingle definition with x02/x25 and the split column
    with x40/x45/x47, so the audit can never drift from either.

    Scale shape: the train shingle set is corpus-sized, so it joins
    (equi-keyed on shingle, uniform) rather than broadcasts; eval-side
    shingles are ~20% of the corpus. One DISTINCT aggregate + one
    join + one (doc_id) aggregate — x25's linear shape with the
    benchmark side swapped for the train split."""
    from etl_spark.extensions.dedup import _shingled
    from etl_spark.extensions.pipeline import _split_col

    sh = _shingled(spark, sf)
    splits = load(spark, sf, "documents").select(
        "doc_id", _split_col().alias("split")
    )
    tagged = sh.join(splits, "doc_id")
    train_sh = (
        tagged.filter(F.col("split") == "train").select("shingle").distinct()
    )
    return (
        tagged.filter(F.col("split") != "train")
        .join(train_sh, "shingle")
        .groupBy("doc_id", "split")
        .agg(F.countDistinct("shingle").alias("n_train_shared"))
        .filter(F.col("n_train_shared") >= LEAK_MIN_SHINGLES)
    )


def _x56_oracle() -> str:
    from etl_spark.extensions.pipeline import SPLIT_TRAIN_PCT

    return f"""
        WITH c AS (
            SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
                   POW(CAST(COUNT(*) AS DOUBLE), {MIX_ALPHA}) AS wn
            FROM documents GROUP BY lang
        ),
        t AS (SELECT SUM(n) AS total, SUM(wn) AS wsum FROM c),
        r AS (SELECT lang, {_MIX_THR} AS thr FROM c, t),
        picked AS (
            SELECT d.doc_id,
                   len(string_split(d.text, ' ')) AS n_tok,
                   md5('{_ORD_SEED}' || CAST(d.doc_id AS VARCHAR)) AS hkey
            FROM documents d JOIN r USING (lang)
            WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                      ::BIGINT % 1000 < r.thr
              AND ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                      ::BIGINT % 100 < {SPLIT_TRAIN_PCT}
        )
        SELECT doc_id,
               ('0x' || substr(hkey, 1, 15))::BIGINT % {N_SHARDS} AS shard,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY ('0x' || substr(hkey, 1, 15))::BIGINT
                                % {N_SHARDS}
                   ORDER BY hkey, doc_id) - 1 AS BIGINT) AS pos,
               CAST(n_tok AS BIGINT) AS n_tok,
               CAST(SUM(n_tok) OVER (
                   PARTITION BY ('0x' || substr(hkey, 1, 15))::BIGINT
                                % {N_SHARDS}
                   ORDER BY hkey, doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS offset
        FROM picked
    """


@register(
    "x56_training_manifest",
    oracle=_x56_oracle(),
    tags=("pipeline",),
)
def x56_training_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """The final artifact of the curation→training handoff: the epoch
    MANIFEST a data loader seeks by. Composes the temperature-sampled
    mix (x51), the train split (x40's content-stable column), and the
    deterministic shard/order layout (x52), then adds per-document
    token counts and the cumulative token OFFSET within each shard —
    (doc_id, shard, pos, n_tok, offset) is exactly the index file
    written next to packed training shards. Every ingredient is
    content-stable, so re-running on a grown corpus extends the
    manifest without perturbing rows already trained on.

    Scale shape: sample + split are scan-local filters (the mix-rate
    table broadcasts); shard is scan-local; pos/offset are windows
    partitioned by shard — parallel across shards, same two-phase
    composition note as x52/x28 at extreme scale. One shuffle."""
    from etl_spark.extensions.pipeline import _split_col

    docs = load(spark, sf, "documents")
    r = _mix_rates(docs)
    permille = _permille_col()
    picked = (
        docs.join(F.broadcast(r), "lang")
        .filter((permille < F.col("thr")) & (_split_col() == "train"))
        .select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_tok"),
            _hkey_col().alias("hkey"),
        )
    )
    shard = F.expr(_SHARD_EXPR)
    w = Window.partitionBy(shard).orderBy("hkey", "doc_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return picked.select(
        "doc_id",
        shard.alias("shard"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
        F.col("n_tok").cast("long").alias("n_tok"),
        (F.sum("n_tok").over(wsum) - F.col("n_tok")).cast("long").alias("offset"),
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    rep_col: str | None = None,
    max_rep: int | None = None,
) -> None:
    """The production form of x52: WRITE the epoch layout instead of
    materializing positions. One shuffle keyed on the shard hash, an
    executor-local sort on the order hash inside each shard, one
    parquet file per shard — the file's row order IS the training
    order, so the x52 `pos` column never exists on disk and no global
    sort ever runs. Readers stream shards round-robin for the epoch
    permutation; bumping _ORD_SEED re-lays the next epoch. For
    upsampled epochs pass ``rep_col`` (see ``_hkey_col``) AND
    ``max_rep`` (the largest repeat index the policy can emit) so
    copies of one document scatter instead of clustering.

    The layout records its hash parameters in ``_layout.json`` (seed,
    shard count, rep policy): ``delete_docs_from_shards`` derives the
    affected-shard set from the RECORDED parameters, never from the
    current module constants — a takedown against an epoch written
    under an earlier seed or a different cap would otherwise hash
    victims to the wrong shards and silently remove nothing
    (review r5).

    At 1000 executors this is exactly N_SHARDS reducer tasks, each
    spill-sorting its own shard — the two-phase composition the x52
    docstring promises. tests/test_extensions.py verifies the on-disk
    row order equals x52's computed (shard, pos) order."""
    if rep_col is not None and max_rep is None:
        raise ValueError("rep_col requires max_rep (the policy's cap)")
    h = docs.withColumn("hkey", _hkey_col(rep_col)).withColumn(
        "shard", F.expr(_SHARD_EXPR)
    )
    # the sort LEADS with the partition column: FileFormatWriter
    # requires rows sorted by partition keys within each task and
    # inserts its own (unstable) sort if the incoming order doesn't
    # already satisfy that — which would scramble the hkey order.
    # With (shard, hkey, doc_id) the requirement is satisfied as a
    # prefix, the writer skips its sort, and hkey order survives to
    # the files (tests assert the on-disk order). The overwrite mode
    # is pinned STATIC on the write: this is a full re-lay, and a
    # session-level dynamic mode would keep stale shards whose
    # partition received no new rows (shrunken corpus, changed seed).
    (
        h.repartition(N_SHARDS, "shard")
        .sortWithinPartitions("shard", "hkey", "doc_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("shard")
        .parquet(path)
    )
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_layout.json"), "w") as fh:
        _json.dump(
            {
                "seed": _ORD_SEED,
                "n_shards": N_SHARDS,
                "rep_salted": rep_col is not None,
                "max_rep": max_rep,
            },
            fh,
        )


_STAGE_NAME = (
    "CASE stage_id WHEN 1 THEN 'raw' WHEN 2 THEN 'quality' "
    "WHEN 3 THEN 'dedup' WHEN 4 THEN 'train_split' ELSE 'sampled' END"
)


def _x58_oracle() -> str:
    from etl_spark.extensions.dedup import _duck_dup_clusters
    from etl_spark.extensions.pipeline import SPLIT_TRAIN_PCT, _duck_quality_keep

    bucket = "('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"
    permille = (
        "('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000"
    )
    return f"""
        WITH c AS (
            SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
                   POW(CAST(COUNT(*) AS DOUBLE), {MIX_ALPHA}) AS wn
            FROM documents GROUP BY lang
        ),
        t AS (SELECT SUM(n) AS total, SUM(wn) AS wsum FROM c),
        r AS (SELECT lang, {_MIX_THR} AS thr FROM c, t),
        lvl AS (
            SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tok,
                   CASE WHEN NOT ({_duck_quality_keep()}) THEN 1
                        WHEN NOT (cc.doc_id IS NULL OR cc.is_canonical) THEN 2
                        WHEN {bucket} >= {SPLIT_TRAIN_PCT} THEN 3
                        WHEN {permille} >= r.thr THEN 4
                        ELSE 5 END AS lvl
            FROM documents d
            LEFT JOIN ({_duck_dup_clusters()}) cc USING (doc_id)
            JOIN r USING (lang)
        ),
        agg AS (
            SELECT stage_id,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens
            FROM (SELECT unnest(range(1, lvl + 1)) AS stage_id, n_tok FROM lvl)
            GROUP BY stage_id
        ),
        raw AS (SELECT CAST(COUNT(*) AS DOUBLE) AS raw_docs FROM documents)
        SELECT CAST(stage_id AS BIGINT) AS stage_id,
               {_STAGE_NAME} AS stage,
               n_docs, n_tokens,
               ROUND(CAST(n_docs AS DOUBLE) / raw_docs, 6) AS frac_of_raw
        FROM agg, raw
    """


@register(
    "x58_curation_funnel",
    oracle=_x58_oracle(),
    tags=("pipeline", "dedup", "textstats"),
)
def x58_curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """The curation run report: how many documents (and tokens)
    survive each successive stage — raw → x17 quality gate → x46
    dedup verdict → x40 train split → x51 temperature sample — with
    each stage's retention as a fraction of raw. This is the funnel
    every pipeline run logs; a stage whose retention moves between
    runs is the first diff an operator looks at. Stage predicates are
    the IDENTICAL shared expressions the standalone operators use, so
    the funnel can never disagree with the stages it summarizes.

    Scale shape: one pass computes each doc's highest surviving stage
    (scan-local CASE over the quality/split/sample predicates, plus
    the pairs-sized dedup-verdict join), then explode(1..lvl) turns
    cumulative counting into ONE keyed aggregate — 5 output rows, no
    per-stage rescans of the corpus."""
    return curation_funnel_frame(spark, sf)


def curation_funnel_frame(
    spark: SparkSession, sf: str, verdict: DataFrame | None = None
) -> DataFrame:
    """x58's funnel with an optionally INJECTED x46 dedup verdict
    (``(doc_id, keep)`` at minimum) — the same sharing contract as
    ``curated_corpus_frame``: the registered x58 derives the verdict
    (pairs + CC fixpoint) in-plan for oracle replay; a pipeline run
    that also writes the corpus reuses ONE cluster table across the
    write, the budget report, and this run report (VERDICT r12 #3;
    injected==registered row-identity in tests/test_r13.py)."""
    from etl_spark.extensions.dedup import x46_dedup_verdict
    from etl_spark.extensions.pipeline import _split_col
    from etl_spark.extensions.textstats import x17_quality_filter

    docs = load(spark, sf, "documents")
    r = _mix_rates(docs)
    q = x17_quality_filter(spark, sf).select(
        "doc_id", F.col("keep").alias("q_keep")
    )
    if verdict is None:
        verdict = x46_dedup_verdict(spark, sf)
    k = verdict.select("doc_id", F.col("keep").alias("d_keep"))
    permille = _permille_col()
    # LEFT joins + coalesce(keep, false): x17 emits no row for a
    # null/empty-text doc, so an inner join would silently drop such
    # docs from EVERY stage including 'raw' and diverge from the
    # oracle (whose predicate simply evaluates false). Latent on the
    # current fixture (no empty texts) but wrong on any real corpus.
    base = (
        docs.select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).alias("n_tok"),
            _split_col().alias("split"),
            permille.alias("permille"),
        )
        .join(q, "doc_id", "left")
        .join(k, "doc_id", "left")
        .join(F.broadcast(r), "lang")
    )
    # null defaults mirror the oracle: absent from x17 => the quality
    # predicate is false (lvl 1); absent from the x46 verdict => the
    # doc is in no dup pair, i.e. KEEP (cc.doc_id IS NULL branch)
    lvl = (
        F.when(~F.coalesce(F.col("q_keep"), F.lit(False)), F.lit(1))
        .when(~F.coalesce(F.col("d_keep"), F.lit(True)), F.lit(2))
        .when(F.col("split") != "train", F.lit(3))
        .when(F.col("permille") >= F.col("thr"), F.lit(4))
        .otherwise(F.lit(5))
    )
    staged = base.withColumn("lvl", lvl).select(
        F.explode(F.expr("sequence(1, lvl)")).alias("stage_id"), "n_tok"
    )
    agg = staged.groupBy("stage_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    raw = docs.agg(F.count(F.lit(1)).cast("double").alias("raw_docs"))
    return agg.crossJoin(F.broadcast(raw)).select(
        F.col("stage_id").cast("long").alias("stage_id"),
        F.expr(_STAGE_NAME).alias("stage"),
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs").cast("double") / F.col("raw_docs"), 6).alias(
            "frac_of_raw"
        ),
    )


@register(
    "x59_incremental_segment_dedup",
    oracle=f"""
        {_DUCK_SEGS},
        seen AS (SELECT DISTINCT seg FROM segs WHERE doc_id % 2 = 0),
        new_segs AS (
            SELECT doc_id, seg FROM segs WHERE doc_id % 2 = 1
        )
        SELECT n.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(COUNT(s.seg) AS BIGINT) AS n_seen_segments,
               ROUND(CAST(COUNT(s.seg) AS DOUBLE) / COUNT(*), 6) AS seen_frac
        FROM new_segs n LEFT JOIN seen s USING (seg)
        GROUP BY n.doc_id
    """,
    tags=("pipeline", "dedup"),
)
def x59_incremental_segment_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Ingestion-time segment dedup — x50's rule as a DELTA probe: a
    NEW batch of documents (odd doc_id, standing in for today's
    crawl) reports, per doc, how many of its fixed-width segments
    already exist in the SEEN corpus (even doc_id) and the seen
    fraction — the boilerplate-overlap signal an ingest gate drops or
    trims docs on, without ever re-pairing the whole corpus. This
    completes the incremental family across all three dedup
    modalities: x37 (MinHash text), x44 (embedding bands), x59 (exact
    segments).

    Scale shape: the seen-segment index is computed once (DISTINCT
    aggregate) and stored; per batch there is ONE equi-join keyed on
    the segment string — batch-sized probe side against the index,
    never corpus x corpus — and one (doc_id) aggregate. The LEFT join
    against a DISTINCT index cannot fan out, so per-doc counts are
    exact."""
    segs = _segments(load(spark, sf, "documents"))
    seen = (
        segs.filter(F.col("doc_id") % 2 == 0).select("seg").distinct()
        .withColumn("hit", F.lit(1))
    )
    new = segs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "seg")
    return (
        new.join(seen, "seg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias(
                "n_seen_segments"
            ),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("seen_frac"),
        )
    )


LEN_BUCKET = 16  # token-length bucket width for batch composition


@register(
    "x61_length_bucket_packing",
    oracle=f"""
        WITH sized AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tok
            FROM documents
        )
        SELECT CAST(n_tok // {LEN_BUCKET} AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(n_tok) AS BIGINT) AS max_tok,
               CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
               ROUND(1.0 - CAST(SUM(n_tok) AS DOUBLE)
                         / (MAX(n_tok) * COUNT(*)), 6) AS pad_waste_frac
        FROM sized
        GROUP BY n_tok // {LEN_BUCKET}
    """,
    tags=("pipeline",),
)
def x61_length_bucket_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Length-bucketed batch composition with padding-waste
    accounting: documents group into fixed-width token-length buckets
    (batching similar lengths together is the standard defense
    against padding waste — a batch pads every sequence to its max),
    and each bucket reports the fraction of compute a batch drawn
    from it would burn on pad tokens. The whole-corpus answer to
    "how much does bucketed batching save us": compare bucket 0's
    waste to what one global batch would waste.

    Scale shape: the bucket id is scan-local integer division (no
    ntile — a global ntile would be a single-partition window); one
    keyed aggregate with map-side partials; output rows = number of
    occupied buckets, independent of corpus size."""
    sized = load(spark, sf, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    return (
        sized.groupBy(
            F.expr(f"CAST(n_tok DIV {LEN_BUCKET} AS BIGINT)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tok").cast("bigint").alias("max_tok"),
            F.sum("n_tok").cast("bigint").alias("sum_tok"),
            F.round(
                1.0
                - F.sum("n_tok").cast("double")
                / (F.max("n_tok") * F.count(F.lit(1))),
                6,
            ).alias("pad_waste_frac"),
        )
    )


def write_epoch(spark: SparkSession, sf: str, path: str) -> None:
    """The end of the pipeline: write the x56 manifest's documents as
    x52-layout training shards. Selection (temperature sample ∩ train
    split), layout (shard by seeded hash, in-shard hash order), and
    bytes (the document text) land in one pass — the directory this
    writes IS the epoch a data loader streams, with x56 as its index.
    Membership and order are content-stable: re-running after corpus
    growth keeps every existing doc's shard and RELATIVE order (new
    docs interleave at their own hash positions, they do not reorder
    what was there — the property the incrementality test proves).
    Note this is stable-relative-order, NOT tail-append: a byte-level
    resumable loader should key on the x56 manifest, not on file
    offsets surviving a re-lay."""
    # membership from the SHARED predicates directly, not from x56's
    # output: the manifest's per-shard rank and offset windows are
    # pure wasted work here (write_training_shards re-derives shard
    # and order itself), and the selection filters are the same
    # single definitions x56 uses, so the written files still match
    # the manifest row-for-row (asserted in tests).
    from etl_spark.extensions.pipeline import _split_col

    docs = load(spark, sf, "documents")
    picked = (
        docs.join(F.broadcast(_mix_rates(docs)), "lang")
        .filter((_permille_col() < F.col("thr")) & (_split_col() == "train"))
        .drop("thr")
    )
    write_training_shards(picked, path)


def write_epoch_upsampled(spark: SparkSession, sf: str, path: str) -> None:
    """write_epoch under the OTHER mix policy: instead of x51's
    temperature DOWNSAMPLE, apply x66's epoch UPSAMPLE — train-split
    documents are materialized ``n_repeats`` times (x66's corpus-wide
    weight derivation via the shared ``epoch_repeats``, so the audit
    query and the written epoch can never disagree on the mix), with
    the repeat index mixed into the order hash so a document's copies
    scatter across shards and positions instead of training
    back-to-back. The explode is per-row and bounded by ceil(CAP)
    (≤3 here) — fan-out is a small constant, never data-dependent.
    Weights derive from the FULL corpus (|strata| rows, broadcast —
    no corpus-vs-corpus self-join) and only train-split rows expand."""
    from etl_spark.extensions.pipeline import _split_col
    from etl_spark.extensions.resampling import epoch_weights, repeats_col

    docs = load(spark, sf, "documents")
    expanded = (
        docs.filter(_split_col() == "train")
        .join(F.broadcast(epoch_weights(docs)), "lang")
        .withColumn("n_repeats", repeats_col())
        .withColumn("rep", F.explode(F.expr("sequence(1, n_repeats)")))
        .drop("n_repeats", "base", "fr")
    )
    import math

    from etl_spark.extensions.resampling import EPOCH_CAP

    write_training_shards(
        expanded, path, rep_col="rep", max_rep=math.ceil(EPOCH_CAP)
    )


def delete_docs_from_shards(
    spark: SparkSession, path: str, doc_ids: list[int]
) -> list[int]:
    """Takedown propagation: remove ``doc_ids`` (every copy — an
    upsampled epoch stores several) from a ``write_training_shards``
    layout, rewriting ONLY the shards that contain them. The shard id
    is a pure function of the order hash, so the affected set is
    computed driver-side from the ids alone — no corpus scan decides
    what to touch — and content-stable sharding caps the blast radius
    of a right-to-be-forgotten request at |affected shards| partition
    rewrites out of N_SHARDS, never a full-corpus rewrite. Untouched
    shard files are not rewritten (byte-identical afterwards —
    asserted in tests). Returns the sorted affected shard ids.

    In-shard order is preserved: files carry the ``hkey`` column, so
    each rewritten shard re-sorts by (shard, hkey, doc_id) — the
    surviving rows keep their exact training order, and the epoch
    remains valid without re-laying anything. Hash parameters (seed,
    shard count, rep policy) come from the layout's own
    ``_layout.json``, never from the current module constants: an
    epoch written under an earlier seed or a different cap would
    otherwise hash victims to the wrong shards and silently remove
    nothing. Probed shards the anti-join finds CLEAN (the id hashes
    there but no row matches) are left byte-identical — only shards
    actually containing victim rows are rewritten or deleted, and
    only those are returned."""
    import glob
    import hashlib
    import json
    import os
    import shutil

    if not doc_ids:
        return []
    meta_path = os.path.join(path, "_layout.json")
    if not os.path.isfile(meta_path):
        raise ValueError(
            f"{path} has no _layout.json — not a write_training_shards "
            f"layout (or written before layouts recorded their hash "
            f"parameters); re-lay it before running takedowns"
        )
    with open(meta_path) as fh:
        meta = json.load(fh)
    seed, n_shards = meta["seed"], int(meta["n_shards"])

    def shard_of(key: str) -> int:
        h = hashlib.md5(f"{seed}{key}".encode()).hexdigest()
        return int(h[:15], 16) % n_shards

    probed: set[int] = set()
    if meta.get("rep_salted"):
        for d in doc_ids:
            for rep in range(1, int(meta["max_rep"]) + 1):
                probed.add(shard_of(f"{d}#{rep}"))
    else:
        for d in doc_ids:
            probed.add(shard_of(str(d)))
    probed &= {
        int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{path}/shard=*")
    }
    if not probed:
        return []
    ids_df = F.broadcast(
        spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id bigint")
    )
    src = (
        spark.read.option("basePath", path)
        .parquet(*[f"{path}/shard={s}" for s in sorted(probed)])
        .persist()
    )
    try:
        # one aggregate decides each probed shard's fate: no victims →
        # untouched (byte-identical — not even rewritten), some → the
        # shard rewrites, all → the directory is deleted
        counts = {
            r.shard: (r.total, r.victims)
            for r in src.join(
                ids_df.withColumn("_v", F.lit(True)), "doc_id", "left"
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.count("_v").alias("victims"),
            )
            .collect()
        }
        rewrite = {
            s for s, (tot, v) in counts.items() if 0 < v < tot
        }
        emptied = {s for s, (tot, v) in counts.items() if v == tot}
        if rewrite:
            kept = (
                src.filter(F.col("shard").isin([int(s) for s in rewrite]))
                .join(ids_df, "doc_id", "left_anti")
            )
            # dynamic overwrite only touches partitions that RECEIVE
            # rows, which is exactly the rewrite set here
            (
                kept.repartition(len(rewrite), "shard")
                .sortWithinPartitions("shard", "hkey", "doc_id")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard")
                .parquet(path)
            )
        for s in emptied:
            # errors PROPAGATE: suppressing a failed delete here would
            # report success while the victim's bytes stay readable —
            # the takedown's one unforgivable failure (review r5)
            shutil.rmtree(f"{path}/shard={s}")
            if os.path.isdir(f"{path}/shard={s}"):
                raise OSError(f"shard={s} still present after delete")
    finally:
        src.unpersist()
    return sorted(rewrite | emptied)


@register(
    "x68_shard_stats",
    oracle=f"""
        WITH h AS (
            SELECT ('0x' || substr(
                       md5('{_ORD_SEED}' || CAST(doc_id AS VARCHAR)), 1, 15)
                   )::BIGINT % {N_SHARDS} AS shard,
                   len(string_split(text, ' ')) AS n_tok
            FROM documents
        ),
        s AS (
            SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens
            FROM h GROUP BY shard
        ),
        t AS (SELECT SUM(n_tokens) AS tot FROM s)
        SELECT shard, n_docs, n_tokens,
               ROUND(CAST(n_tokens AS DOUBLE) / t.tot, 6) AS tok_frac
        FROM s, t
    """,
    tags=("pipeline",),
)
def x68_shard_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Shard-balance audit for the x52 layout — per-shard document and
    token totals plus each shard's fraction of the corpus: the number
    a training job's stragglers trace back to (one hot shard = one
    slow data-loader worker every step of every epoch). Content-hash
    sharding should keep tok_frac within noise of 1/N_SHARDS; a skewed
    report here means pathological doc-length correlation with the
    hash, caught at layout time instead of at step time. Same
    derivation as x52/write_training_shards (`_hkey_col`/`_SHARD_EXPR`)
    so the audit can never disagree with the written layout.

    Scale shape: the shard id is scan-local, then one N_SHARDS-row
    aggregate and a 1-row broadcast total — the corpus never
    shuffles on anything wider than the N_SHARDS key space."""
    h = load(spark, sf, "documents").select(
        F.size(F.split("text", " ")).alias("n_tok"),
        _hkey_col().alias("hkey"),
    ).select("n_tok", F.expr(_SHARD_EXPR).alias("shard"))
    s = h.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    t = s.agg(F.sum("n_tokens").alias("tot"))
    return s.crossJoin(F.broadcast(t)).select(
        "shard",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("tot"), 6).alias(
            "tok_frac"
        ),
    )
