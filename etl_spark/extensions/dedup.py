"""Deduplication operators for training-data pipelines — exact,
n-gram Jaccard, MinHash(+LSH), SimHash.

These go beyond the reference's surface (BASELINE.json north-star).
Design is inverted-index / signature based so nothing is O(n²) over
the corpus:

- exact dedup: one hash-groupBy — a single shuffle on the fingerprint.
- n-gram Jaccard: explode shingles → self-join on the *shingle*
  (inverted index), so only documents sharing a shingle ever meet.
  At 100 TB you additionally ban ultra-frequent shingles (stop-shingle
  cut) to bound bucket fan-out — candidates come from the capped
  index while the Jaccard itself stays exact over full shingle sets
  (the cut is a candidate-generation lever, not a definition change;
  x02 here is the exact uncapped form).
- MinHash: k hash functions from ONE md5 per shingle via the
  Carter-Wegman family h_i = (h1 + i*h2) mod (2^61-1), with h1/h2
  drawn from disjoint substrings of the digest (the MMDS ch.3
  construction) — 8× less hashing than k independent salted digests,
  which is the dominant cost at corpus scale. LSH: band signatures →
  bucket join; only bucket collisions are compared (the classic
  banding scheme from Broder / MMDS ch.3).
- SimHash: term-frequency-weighted bit votes on a 60-bit token hash,
  16-bit signature here (width is a constant).

Every hash is derived from md5() so the DuckDB oracle can reproduce
results bit-for-bit — no engine-private hash functions in the
algorithm's definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.registry import register
from etl_spark.session import rebind, scoped_session
from etl_spark.tables import load, load_parallel

# 60-bit integer from the first 15 hex chars of md5 — reproducible in
# any engine with md5 + hex parsing. Spark side:
_HEX2INT = "CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
# DuckDB side: ('0x' || substr(md5(s),1,15))::BIGINT

N_MINHASH = 8
N_BANDS = 4  # bands of 2 rows each over the 8-hash signature

# Carter-Wegman minhash family: h_i = (h1 + i*h2) mod MERSENNE61.
# h1 is 60 bits (hex chars 1-15), h2 is 56 bits (hex chars 17-30) of
# the same digest, so h1 + 7*h2 < 2^60 + 2^59 — no BIGINT overflow.
MERSENNE61 = (1 << 61) - 1


def shingle_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) → (doc_id, shingle) distinct word-3-gram
    shingles, entirely in codegen'd array expressions. DataFrame-in /
    DataFrame-out so the same shingling serves the fixture queries
    AND per-micro-batch streaming ingest (streaming/neardup.py)."""
    toked = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 3
    )
    shingles = F.expr(
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), "
        "element_at(toks, i + 2)))"
    )
    return toked.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def _shingled(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture-table form of ``shingle_docs``. ``load_parallel``
    spreads the tokenize/hash map stage across cores when the fixture
    scan is a single split (no-op at real scale)."""
    return shingle_docs(load_parallel(spark, sf, "documents"))


# DuckDB twin of _shingled (kept in one place; referenced by oracles below)
_DUCK_SHINGLES = """
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> concat_ws(' ',
                        string_split(text, ' ')[i],
                        string_split(text, ' ')[i + 1],
                        string_split(text, ' ')[i + 2])))) AS shingle
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
"""


@register(
    "x01_dedup_exact",
    oracle="""
        SELECT md5(text) AS fingerprint,
               CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    tags=("dedup",),
)
def x01_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: md5-fingerprint groupBy, keep lowest doc_id.
    One shuffle keyed on the hash — uniform by construction, no skew.
    At 100 TB: identical plan; fingerprint is the shuffle key."""
    return (
        load(spark, sf, "documents")
        .groupBy(F.md5("text").alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "x02_ngram_jaccard_pairs",
    oracle=f"""
        WITH sh AS ({_DUCK_SHINGLES}),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
            FROM sh GROUP BY doc_id
        ),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT s.doc_a, s.doc_b,
               ROUND(s.n_shared * 1.0
                     / (sa.n_sh + sb.n_sh - s.n_shared), 4) AS jaccard
        FROM shared s
        JOIN sizes sa ON s.doc_a = sa.doc_id
        JOIN sizes sb ON s.doc_b = sb.doc_id
        WHERE s.n_shared * 1.0 / (sa.n_sh + sb.n_sh - s.n_shared) >= 0.5
    """,
    tags=("dedup",),
)
def x02_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.5, via an inverted
    shingle index: explode → self-join on shingle → count shared →
    |A∩B| / (|A|+|B|−|A∩B|). Only docs sharing ≥1 shingle are ever
    paired — never an O(n²) cross join. At 100 TB, add a
    frequency-capped stop-shingle filter to bound bucket fan-out (x23).

    Two plan refinements over the naive index join (output identical):
    - the shingle-set SIZE rides on the index rows (one window count
      — same doc_id shuffle the sizes aggregate needed anyway), so
      the two post-aggregation size joins disappear;
    - the LENGTH FILTER prunes size-incompatible pairs BEFORE the
      shared-count aggregation: J(A,B) ≤ min/max of the set sizes, so
      J ≥ 0.5 requires 2·min ≥ max — any pair failing that can never
      reach the threshold (prefix-filter family, Xiao et al. '08).
      Pruning happens join-side, shrinking the aggregation's shuffle."""
    from pyspark.sql import Window

    sh = _shingled(spark, sf)
    w = Window.partitionBy("doc_id")
    shw = sh.withColumn("n_sh", F.count(F.lit(1)).over(w))
    a = shw.alias("a")
    b = shw.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (2 * F.least("a.n_sh", "b.n_sh") >= F.greatest("a.n_sh", "b.n_sh")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def minhash_signatures_of(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) → (doc_id, mh_0..mh_{k-1}) MinHash
    signature: one md5 per shingle, k derived hashes via
    (h1 + i*h2) mod 2^61-1, min per doc. One explode + one groupBy —
    linear in total shingle count, hashing cost independent of k."""
    base = shingle_docs(docs).withColumn("m", F.md5("shingle")).select(
        "doc_id",
        F.expr("CAST(conv(substring(m, 1, 15), 16, 10) AS BIGINT)").alias("h1"),
        F.expr("CAST(conv(substring(m, 17, 14), 16, 10) AS BIGINT)").alias("h2"),
    )
    aggs = [
        F.min((F.col("h1") + i * F.col("h2")) % F.lit(MERSENNE61)).alias(f"mh_{i}")
        for i in range(N_MINHASH)
    ]
    return base.groupBy("doc_id").agg(*aggs)


def band_keys_of(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) → (doc_id, band_id, band_key) MinHash-LSH
    band rows — the probe/index unit shared by x37's incremental
    check and the streaming ingestion filter (streaming/neardup.py).
    band_key is the md5 of the band's 2-hash slice, so two docs share
    a band_key iff that signature slice matches exactly."""
    sig = minhash_signatures_of(docs)
    stack_expr = ", ".join(
        f"{b}, md5(concat(mh_{2 * b}, '_', mh_{2 * b + 1}))" for b in range(N_BANDS)
    )
    return sig.select(
        "doc_id",
        F.expr(f"stack({N_BANDS}, {stack_expr}) AS (band_id, band_key)"),
    )


def minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture-table form of ``minhash_signatures_of``."""
    return minhash_signatures_of(load_parallel(spark, sf, "documents"))


def _duck_minhash_sig() -> str:
    mins = ",\n               ".join(
        f"MIN((h1 + {i} * h2) % {MERSENNE61}) AS mh_{i}" for i in range(N_MINHASH)
    )
    return f"""
        SELECT doc_id,
               {mins}
        FROM (
            SELECT doc_id,
                   ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
                   ('0x' || substr(md5(shingle), 17, 14))::BIGINT AS h2
            FROM ({_DUCK_SHINGLES}) sh
        ) hashed
        GROUP BY doc_id
    """


@register(
    "x03_minhash_signatures",
    oracle=_duck_minhash_sig(),
    tags=("dedup",),
)
def x03_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signature table (k=8, salted-md5 hash family)."""
    return minhash_signatures(spark, sf)


def _duck_lsh_pairs() -> str:
    sig = _duck_minhash_sig()
    bands = "\n            UNION ALL\n".join(
        f"            SELECT doc_id, {b} AS band_id, "
        f"md5(concat(mh_{2 * b}, '_', mh_{2 * b + 1})) AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
    )
    return f"""
        WITH sig AS ({sig}),
        bands AS (
{bands}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               ROUND(({matches}) / {N_MINHASH}.0, 4) AS est_jaccard
        FROM cand c
        JOIN sig sa ON c.doc_a = sa.doc_id
        JOIN sig sb ON c.doc_b = sb.doc_id
        WHERE ({matches}) / {N_MINHASH}.0 >= 0.5
    """


@register(
    "x04_minhash_lsh_pairs",
    oracle=_duck_lsh_pairs(),
    tags=("dedup",),
)
def x04_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: band the 8-hash signature into 4
    bands of 2, bucket-join on (band_id, band_key), then estimate
    Jaccard as the fraction of agreeing minhashes, keep ≥ 0.5.

    Scale: candidates are generated by an equi-join on band keys —
    shuffle is keyed on the band hash, so work is proportional to
    bucket collisions, not to n². This is the standard scheme the
    reference lacks entirely."""
    sig = minhash_signatures(spark, sf)
    stack_expr = ", ".join(
        f"{b}, md5(concat(mh_{2 * b}, '_', mh_{2 * b + 1}))" for b in range(N_BANDS)
    )
    bands = sig.select(
        "doc_id",
        F.expr(f"stack({N_BANDS}, {stack_expr}) AS (band_id, band_key)"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh_{i}").alias(f"a_mh_{i}") for i in range(N_MINHASH)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh_{i}").alias(f"b_mh_{i}") for i in range(N_MINHASH)]
    )
    n_match = sum(
        F.when(F.col(f"a_mh_{i}") == F.col(f"b_mh_{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    est = n_match / float(N_MINHASH)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(est >= 0.5)
        .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
    )


def _duck_simhash(bits: int = 16) -> str:
    bit_sums = ",\n               ".join(
        f"SUM(cnt * (CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) AS s_{j}"
        for j in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt,
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
            FROM toks GROUP BY doc_id, tok
        ),
        bitsum AS (
            SELECT doc_id,
               {bit_sums}
            FROM tf GROUP BY doc_id
        )
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash
        FROM bitsum
    """


@register(
    "x05_simhash",
    oracle=_duck_simhash(),
    tags=("dedup",),
)
def x05_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash (16-bit) document signature: term-frequency-weighted
    ±1 votes per bit of a salted 60-bit token hash; bit j of the
    signature is the vote sign. Hamming distance over this column is
    the near-dup measure (Charikar '02 / Manku et al. '07). Linear:
    one token explode, one groupBy."""
    bits = 16
    toks = load_parallel(spark, sf, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tf = tf.withColumn("h", F.expr(_HEX2INT.format(s="tok")))
    bit_aggs = [
        F.sum(
            F.col("cnt")
            * F.when(F.expr(f"(shiftright(h, {j}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"s_{j}")
        for j in range(bits)
    ]
    bitsum = tf.groupBy("doc_id").agg(*bit_aggs)
    sig = sum(
        F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(bits)
    )
    return bitsum.select("doc_id", sig.cast("bigint").alias("simhash"))


# stop-shingle cap for candidate generation (x23): shingles present in
# more than CAP documents are banned from the inverted index — they
# generate O(freq²) candidate pairs while carrying almost no signal.
STOP_SHINGLE_CAP = 5


@register(
    "x23_jaccard_capped_pairs",
    oracle=f"""
        WITH sh AS ({_DUCK_SHINGLES}),
        freq AS (
            SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM sh GROUP BY shingle
        ),
        index_sh AS (
            SELECT sh.doc_id, sh.shingle
            FROM sh JOIN freq USING (shingle)
            WHERE freq.n_docs <= {STOP_SHINGLE_CAP}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM index_sh a JOIN index_sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
            FROM sh GROUP BY doc_id
        ),
        shared AS (
            SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM cand c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT s.doc_a, s.doc_b,
               ROUND(s.n_shared * 1.0
                     / (sa.n_sh + sb.n_sh - s.n_shared), 4) AS jaccard
        FROM shared s
        JOIN sizes sa ON s.doc_a = sa.doc_id
        JOIN sizes sb ON s.doc_b = sb.doc_id
        WHERE s.n_shared * 1.0 / (sa.n_sh + sb.n_sh - s.n_shared) >= 0.5
    """,
    tags=("dedup",),
)
def x23_jaccard_capped_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram Jaccard with a stop-shingle cut — the 100 TB form of
    x02. Candidate pairs come only from shingles shared by ≤ CAP
    documents (a shingle in f docs spawns O(f²) pairs; banning the
    ultra-frequent tail bounds the inverted-index fan-out). The
    Jaccard itself is then computed EXACTLY over the full shingle
    sets of each surviving pair, so scores are identical to x02 —
    only pairs whose overlap is exclusively stop-shingles are lost,
    and those are precisely the boilerplate matches the cut exists to
    ignore. Deterministic, so the oracle reproduces it exactly.

    Plan shape: shingle frequency AND doc set size ride on the index
    rows via two window counts over ONE shared subtree — every
    downstream consumer (both index sides, both re-score sides)
    derives from the identical exchange, which AQE deduplicates with
    ReusedExchange instead of re-running the scan+explode per
    consumer. The x02 length filter sits inside the candidate join."""
    from pyspark.sql import Window

    sh = _shingled(spark, sf)
    shw = sh.withColumn(
        "shfreq", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))

    idx = shw.filter(F.col("shfreq") <= STOP_SHINGLE_CAP)
    a = idx.alias("a")
    b = idx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # x02's length filter, applied at candidate time: J ≥ 0.5
            # needs 2·min(|A|,|B|) ≥ max — prunes before the exact
            # re-score, the expensive stage here
            & (2 * F.least("a.n_sh", "b.n_sh") >= F.greatest("a.n_sh", "b.n_sh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .distinct()
    )
    fa = shw.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    fb = shw.select(F.col("doc_id").alias("fb_doc"), F.col("shingle").alias("sh_b"))
    shared = (
        cand.join(fa, "doc_a")
        .join(fb, (F.col("doc_b") == F.col("fb_doc")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# Connected components over the near-dup pair graph (x29). Iteration
# cap is a safety net only: hash-to-min converges in graph-diameter
# rounds, and dup clusters are near-cliques (diameter 2-3); the loop
# exits on the first round with no label change.
MAX_CC_ITERS = 25


def _duck_dup_clusters() -> str:
    """Self-contained DuckDB query reproducing x29's cluster labels
    (recursive-CTE transitive closure over the LSH pair graph) —
    reused as a subquery by the x46 keep/drop verdict oracle."""
    return f"""
        WITH RECURSIVE pairs AS ({_duck_lsh_pairs()}),
        edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION ALL
            SELECT doc_b AS s, doc_a AS d FROM pairs
        ),
        verts AS (
            SELECT DISTINCT s AS doc_id FROM edges
        ),
        reach(doc_id, lbl) AS (
            SELECT doc_id, doc_id FROM verts
            UNION
            SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.d
        )
        SELECT doc_id,
               CAST(MIN(lbl) AS BIGINT) AS cluster_id,
               (doc_id = MIN(lbl)) AS is_canonical
        FROM reach
        GROUP BY doc_id
    """


@register(
    "x29_dup_clusters",
    oracle=_duck_dup_clusters(),
    tags=("dedup",),
)
def x29_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs — the step that turns
    pairwise similarity into keep/drop decisions. Edges are the x04
    MinHash-LSH pairs (est. Jaccard >= 0.5); each connected component
    is one duplicate cluster; cluster_id = min doc_id in the
    component; the canonical (kept) document is the one whose id IS
    the cluster id. Docs in no pair are untouched (not emitted).

    Algorithm: hash-to-min label propagation — label(v) starts as v,
    each round becomes min(label(v), min label over neighbors), until
    a round changes nothing. The edge list carries self-loops, so each
    round is ONE join + one MIN aggregate keyed on the edge dst — tiny
    relative to the corpus since only docs IN a dup pair
    participate. Convergence needs diameter rounds (2-3 for dup
    near-cliques; alternating star contractions give O(log n) on
    adversarial chains — Kiveris et al. '14 — not needed here).
    Convergence test: labels only ever DECREASE, so an unchanged
    decimal-exact label sum <=> a fixpoint — one cheap aggregate per
    round instead of a change-detection join. Lineage is truncated
    each round — ``localCheckpoint`` here, or a DURABLE checkpoint via
    ``connected_components(pairs, checkpoint_dir=...)`` at cluster
    scale. The result is deterministic, so the
    DuckDB recursive-CTE transitive closure reproduces it exactly."""
    pairs = x04_minhash_lsh_pairs(spark, sf).select("doc_a", "doc_b")
    return dup_clusters_from_pairs(pairs)


def dup_clusters_from_pairs(
    pairs: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """x29's cluster table from an INJECTED pair list ``(doc_a,
    doc_b)`` → ``(doc_id, cluster_id, is_canonical)``. The registered
    x29 derives pairs in-plan so DuckDB can replay it; production
    callers that consume the verdict several times (x46/x47/x49/x58
    all embed this subtree) persist the pair table ONCE and pass it
    here — the CC loop then runs once per pair table, not once per
    consumer (VERDICT r12 #3; measured delta in COVERAGE.md)."""
    labels = connected_components(
        pairs.select("doc_a", "doc_b"), checkpoint_dir=checkpoint_dir
    )
    return labels.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        (F.col("doc_id") == F.col("lbl")).alias("is_canonical"),
    )


# Fixpoint shuffle sizing (guide §2.2): each round's join/aggregate
# shuffles are edge/label-table-sized, so the loop pins an explicit
# partition count derived from the MEASURED edge count — never from
# the core count — targeting fat production-sized reduce partitions.
# ~48 bytes covers an in-flight (src, dst) shuffle row with codegen /
# serialization overhead; the exact constant only moves the partition
# boundary, not correctness.
_CC_TARGET_PART_BYTES = 64 * 1024 * 1024
_CC_EDGE_BYTES = 48


def connected_components(
    pairs: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """Hash-to-min connected components over an undirected pair list
    ``(doc_a, doc_b)`` → ``(doc_id, lbl)`` where ``lbl`` is the min
    id reachable from ``doc_id``. Vertices appearing in no pair are
    not emitted. See x29_dup_clusters for the scale analysis; unit
    coverage (chain/star/multi-clique convergence) in
    tests/test_extensions.py.

    Lineage is truncated once per round. With ``checkpoint_dir=None``
    (test/fixture default) that is ``localCheckpoint`` — executor-local
    blocks, fast but lost with the executor. At cluster scale pass a
    durable path (HDFS/S3): the iteration then uses reliable
    ``checkpoint()`` through ``setCheckpointDir``, so a lost executor
    recovers the current round from storage instead of recomputing the
    whole label history.

    Round structure (r16, guide §1.4/§2.2/§2.4 — kills the per-round
    FIXED cost that made the family anti-scale with core count):

    - the edge list is hash-partitioned by ``dst`` ONCE into
      ``n_parts`` partitions sized from the measured edge count
      (never from the core count) and cached; every round's label
      table comes out of its MIN-aggregate hash-partitioned by
      ``doc_id`` with the same ``n_parts`` (checkpoint preserves the
      physical partitioning), so the per-round join is co-partitioned
      — ONE exchange per round (the aggregate's), however many cores.
    - AQE is disabled INSIDE the loop, on a child session (the
      caller's confs are never written): the plan is fully determined
      by the pinned partition count, so adaptive re-planning would
      only add per-stage scheduling latency — at sf0.1 that fixed
      latency, not data, dominated the loop (0.45–0.9 s/round on
      ~10.7k pairs, 8c/32c ratio 0.34). The upstream pair pipeline
      still materializes under the caller's session and AQE (the
      pairs checkpoint below), and the labels are rebound to it.
    - the convergence label-sum rides the round's own materializing
      action as an ``observe()`` metric over a noop sink (guide
      §1.4) instead of a separate aggregate subtree — one job per
      round with no extra exchange to a 1-row partition.
    """
    from pyspark.sql import Observation

    spark = pairs.sparkSession
    sc = spark.sparkContext
    # frames holding each round's persisted data, oldest first: they
    # are released as they age out, and all of them if a round fails
    round_cache: list[DataFrame] = []

    def _release(df: DataFrame) -> None:
        if checkpoint_dir is None:
            # localCheckpoint persisted the scanned RDD itself
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        else:
            df.unpersist()

    def _lazy_ckpt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(a lazy checkpoint of ``df``, the frame holding its data):
        the first action over the checkpoint materializes both."""
        if checkpoint_dir is None:
            out = df.localCheckpoint(eager=False)
            return out, out
        # Reliable checkpoint() writes the RDD in its own job after the
        # first action; the persist lets that job read the cached rows
        # instead of re-running the plan — the one-materialization
        # property on the cluster path too (ADVICE r4).
        held = df.persist()
        return df.checkpoint(eager=False), held

    def _ckpt(df: DataFrame) -> DataFrame:
        while len(round_cache) > 1:  # keep current + newest only
            _release(round_cache.pop(0))
        out, held = _lazy_ckpt(df)
        round_cache.append(held)
        return out

    def _materialize(ck: DataFrame, metric):
        """Run ``ck``'s one materializing action, a noop-sink write,
        and return ``metric`` aggregated over its rows."""
        obs = Observation()
        (
            ck.observe(obs, metric.alias("v"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return obs.get["v"]

    prior_dir = None
    pairs_held = None
    edges = None
    try:
        if checkpoint_dir is not None:
            prior_ckpt_dir = sc._jsc.sc().getCheckpointDir()  # scala Option
            prior_dir = prior_ckpt_dir.get() if prior_ckpt_dir.isDefined() else None
            sc.setCheckpointDir(checkpoint_dir)
        # Materialize the PAIRS under the CALLER's confs: the pair
        # pipeline upstream wants AQE's broadcast/skew handling, and a
        # local checkpoint (unlike a persist, whose final stage AQE may
        # not coalesce) keeps AQE's coalesced partition count, so the
        # loop below reads a handful of partitions, not
        # shuffle.partitions (the reliable path persists first, so it
        # does read shuffle.partitions). The checkpoint is lazy: one
        # noop-sink job fills it and counts its rows, as a round does.
        # The count sizes the loop's partitioning — scale-adaptive by
        # construction: 1 fat partition at fixture scale, ~edge-bytes /
        # 64 MB partitions at cluster scale. Each pair explodes into
        # exactly 4 edges.
        pairs_ck, pairs_held = _lazy_ckpt(pairs)
        n_edges = 4 * _materialize(pairs_ck, F.count(F.lit(1)))
        n_parts = max(
            1, -(-(n_edges * _CC_EDGE_BYTES) // _CC_TARGET_PART_BYTES)
        )
        loop = scoped_session(
            spark,
            {
                "spark.sql.adaptive.enabled": "false",
                "spark.sql.shuffle.partitions": str(n_parts),
            },
        )
        # All four (src, dst) orientations INCLUDING self-loops from ONE
        # pass over pairs (an explode; a union of pairs with its own
        # reversal would read the pairs twice). The self-loops make every
        # vertex its own neighbor, so each round's new label is simply
        # MIN over incoming neighbor labels — the "keep my own label"
        # term that previously needed a second (left) join per round now
        # rides the same groupBy (r15 optimization, guide §2.4: one join
        # + one aggregation per round instead of join + aggregation +
        # join; measured 15% off the loop at identical labels and round
        # count). Self-loops repeat per pair occurrence of a vertex; MIN
        # is insensitive to duplicates, so no distinct is paid.
        # Loop-invariant hoist (guide §2.4): partition edges by the
        # join key ONCE; every round then reuses the cached layout
        # instead of re-shuffling the edge list per round.
        a, b = F.col("doc_a"), F.col("doc_b")
        edges = (
            rebind(pairs_ck, loop)
            .select(
                F.explode(
                    F.array(
                        F.struct(a.alias("src"), b.alias("dst")),
                        F.struct(b.alias("src"), a.alias("dst")),
                        F.struct(a.alias("src"), a.alias("dst")),
                        F.struct(b.alias("src"), b.alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .repartition(n_parts, "dst")
            .persist()
        )

        def _round(df: DataFrame):
            """Materialize one round (checkpoint-backed) and return
            (frame, decimal label sum) from ONE noop-sink job."""
            ck = _ckpt(df)
            return ck, _materialize(
                ck, F.sum(F.col("lbl").cast("decimal(38,0)"))
            )

        # initialize at ROUND 1's output, not at label=self: the vertex
        # set needs a groupBy over edges anyway, and with self-loops the
        # plain MIN(dst) aggregate IS min(self, neighbors) — exactly what
        # the first loop iteration would compute from a self-labeled
        # start — so one whole round is saved on every run
        labels, prev_sum = _round(
            edges.groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("dst").alias("lbl"))
        )
        _release(pairs_held)  # superseded by the dst-partitioned cache
        for _ in range(MAX_CC_ITERS):
            # build the per-partition hash table on the (smaller)
            # label side; the co-partitioned layout means neither side
            # re-shuffles, and SHJ skips the per-round sorts SMJ would
            # insert (guide §3.1)
            lab = labels.hint("SHUFFLE_HASH")
            labels_next, cur_sum = _round(
                edges.join(lab, edges.dst == lab.doc_id)
                .groupBy(F.col("src").alias("doc_id"))
                .agg(F.min("lbl").alias("lbl"))
            )
            labels = labels_next
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    except BaseException:
        for df in round_cache:
            _release(df)
        raise
    else:
        # only the final round backs the returned labels: its
        # checkpoint no longer reads the round before it
        for df in round_cache[:-1]:
            _release(df)
    finally:
        if pairs_held is not None:
            _release(pairs_held)  # no-op if already released above
        if edges is not None:
            edges.unpersist()
        # setCheckpointDir mutates global SparkContext state; put back
        # whatever was there before so callers' checkpoint config
        # survives this function (ADVICE r4). The final round stays
        # persisted — it backs the returned labels frame.
        if checkpoint_dir is not None and prior_dir is not None:
            sc.setCheckpointDir(prior_dir)
    return rebind(labels, spark)


def _duck_bands() -> str:
    """DuckDB CTE body: (doc_id, band_id, band_key) LSH band rows —
    the banding step of _duck_lsh_pairs, reusable standalone."""
    sig = _duck_minhash_sig()
    bands = "\n            UNION ALL\n".join(
        f"            SELECT doc_id, {b} AS band_id, "
        f"md5(concat(mh_{2 * b}, '_', mh_{2 * b + 1})) AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    return f"""
        WITH sig AS ({sig}),
        bands AS (
{bands}
        )
    """


@register(
    "x37_incremental_neardup",
    oracle=_duck_bands()
    + """
        SELECT n.doc_id,
               CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_seen_matches
        FROM bands n JOIN bands s
          ON n.band_id = s.band_id AND n.band_key = s.band_key
        WHERE n.doc_id % 2 = 1 AND s.doc_id % 2 = 0
        GROUP BY n.doc_id
    """,
    tags=("dedup", "pipeline"),
)
def x37_incremental_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-ingest near-dup check: a NEW batch of documents
    (odd doc_id, standing in for today's crawl) probed against the
    SEEN corpus (even doc_id) via MinHash-LSH band buckets — each new
    doc reports how many distinct seen docs share a band bucket with
    it. This is the ingestion-time shape of x04: dedup a delta against
    an existing index WITHOUT re-pairing the whole corpus — the
    corpus-side band table is computed once, persisted, and only
    probed per batch.

    Scale: one equi-join keyed on the band hash (new side is
    batch-sized, seen side is the stored index — never corpus×corpus),
    then one count-distinct shuffle on the new doc_id."""
    sig = minhash_signatures(spark, sf)
    stack_expr = ", ".join(
        f"{b}, md5(concat(mh_{2 * b}, '_', mh_{2 * b + 1}))" for b in range(N_BANDS)
    )
    bands = sig.select(
        "doc_id",
        F.expr(f"stack({N_BANDS}, {stack_expr}) AS (band_id, band_key)"),
    )
    new = bands.filter(F.col("doc_id") % 2 == 1)
    seen = bands.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("seen_id"), "band_id", "band_key"
    )
    return (
        new.join(seen, ["band_id", "band_key"])
        .groupBy("doc_id")
        .agg(F.count_distinct("seen_id").alias("n_seen_matches"))
    )


@register(
    "x38_minhash_error",
    oracle=f"""
        WITH pairs AS ({_duck_lsh_pairs()}),
        sh AS ({_DUCK_SHINGLES}),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
            FROM sh GROUP BY doc_id
        ),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               p.est_jaccard AS est_j,
               ROUND(s.n_shared * 1.0
                     / (sa.n_sh + sb.n_sh - s.n_shared), 4) AS true_j,
               ROUND(ABS(p.est_jaccard
                         - s.n_shared * 1.0
                           / (sa.n_sh + sb.n_sh - s.n_shared)), 4) AS abs_err
        FROM pairs p
        JOIN shared s ON p.doc_a = s.doc_a AND p.doc_b = s.doc_b
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
    """,
    tags=("dedup",),
)
def x38_minhash_error(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-quality audit: for every LSH candidate pair (x04), the
    MinHash Jaccard ESTIMATE next to the exact shingle Jaccard and
    their absolute error — the measurement that justifies (or vetoes)
    a signature size before a 100 TB dedup run commits to it
    (8 hashes → ±0.35 quantization steps; widen to tighten).

    Scale: the exact side is computed ONLY for the candidate pairs —
    the shingle self-join is the same inverted-index shape as x02 and
    the pair table it joins against is LSH-bounded, so the audit costs
    candidates × shingle-overlap, never corpus²."""
    pairs = x04_minhash_lsh_pairs(spark, sf)
    sh = _shingled(spark, sf)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    true_j = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        pairs.join(shared, ["doc_a", "doc_b"])
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("est_jaccard").alias("est_j"),
            F.round(true_j, 4).alias("true_j"),
            F.round(F.abs(F.col("est_jaccard") - true_j), 4).alias("abs_err"),
        )
    )


@register(
    "x46_dedup_verdict",
    oracle=f"""
        SELECT d.doc_id,
               CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
               (c.doc_id IS NULL OR c.is_canonical) AS keep,
               CASE WHEN c.doc_id IS NULL THEN 'unique'
                    WHEN c.is_canonical THEN 'canonical'
                    ELSE 'near_dup' END AS reason
        FROM documents d
        LEFT JOIN ({_duck_dup_clusters()}) c USING (doc_id)
    """,
    tags=("dedup", "pipeline"),
)
def x46_dedup_verdict(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-wide keep/drop TABLE — what the dedup stage actually
    hands to the next pipeline step. x29 labels only docs that appear
    in a near-dup pair; this closes the loop over the WHOLE corpus:
    every document gets (cluster_id, keep, reason) where reason is
    'unique' (in no pair — kept untouched), 'canonical' (the cluster's
    keeper, lowest doc_id), or 'near_dup' (dropped). Singleton docs
    adopt their own id as cluster_id, so cluster_id is total and
    usable as a grouping/partition key downstream.

    Scale: x29's label table is pairs-sized (≪ corpus); the closing
    join is one LEFT equi-join of the corpus scan against it on
    doc_id, then scan-local CASE logic — no new quadratic surface."""
    return dedup_verdict_frame(
        load(spark, sf, "documents").select("doc_id"),
        x29_dup_clusters(spark, sf),
    )


def dedup_verdict_frame(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """x46's corpus-wide keep/drop table from an INJECTED cluster
    table (``dup_clusters_from_pairs`` output). ``docs`` needs a
    ``doc_id`` column; one LEFT equi-join + scan-local CASE logic.
    Production callers persist the cluster table once and reuse it
    across every verdict consumer (VERDICT r12 #3)."""
    labels = clusters.withColumnRenamed("doc_id", "l_doc")
    return (
        docs.join(labels, docs.doc_id == F.col("l_doc"), "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            (F.col("l_doc").isNull() | F.col("is_canonical")).alias("keep"),
            F.when(F.col("l_doc").isNull(), "unique")
            .when(F.col("is_canonical"), "canonical")
            .otherwise("near_dup")
            .alias("reason"),
        )
    )


@register(
    "x69_cluster_size_histogram",
    oracle=f"""
        WITH labels AS ({_duck_dup_clusters()}),
        sizes AS (
            SELECT cluster_id, COUNT(*) AS sz
            FROM labels GROUP BY cluster_id
        ),
        t AS (SELECT SUM(sz) AS tot FROM sizes)
        SELECT CAST(sz AS BIGINT) AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(COUNT(*) * sz AS BIGINT) AS n_docs,
               ROUND(CAST(COUNT(*) * sz AS DOUBLE) / t.tot, 6)
                   AS doc_frac
        FROM sizes, t
        GROUP BY sz, t.tot
    """,
    tags=("dedup",),
)
def x69_cluster_size_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup HEALTH report:
    how many clusters of each size exist and what fraction of the
    clustered documents sit in them. The long tail of pair clusters
    is normal web duplication; a mega-cluster absorbing a big
    doc_frac is the signature of boilerplate/templated content that
    near-dup thresholds mistake for duplication (the classic "every
    page shares a cookie banner" failure) — caught here BEFORE x46
    drops all but one doc per cluster and quietly deletes a slice of
    the corpus. Sits on x29's labels exactly (shared CC derivation),
    so the histogram always describes the clusters the verdict will
    act on.

    Scale shape: x29's CC cost plus two tiny aggregates — cluster
    sizes (keyed on cluster_id, docs-in-pairs only) and the size
    histogram (key space = distinct sizes). Nothing corpus-wide
    beyond what x29 already does."""
    labels = x29_dup_clusters(spark, sf)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    t = sizes.agg(F.sum("sz").alias("tot"))
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .crossJoin(F.broadcast(t))
        .select(
            F.col("sz").cast("bigint").alias("cluster_size"),
            "n_clusters",
            (F.col("n_clusters") * F.col("sz")).cast("bigint").alias("n_docs"),
            F.round(
                (F.col("n_clusters") * F.col("sz")).cast("double")
                / F.col("tot"),
                6,
            ).alias("doc_frac"),
        )
    )


SPAN_K = 5  # duplicated-substring window width (tokens)


@register(
    "x89_substring_dup_coverage",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        w AS (
            SELECT doc_id, i AS pos,
                   concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS g
            FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i)
            WHERE len(t) >= {SPAN_K}
        ),
        dup AS (
            SELECT g FROM w GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        cov AS (
            SELECT doc_id, COUNT(DISTINCT p) AS covered
            FROM (
                SELECT w.doc_id, unnest(range(w.pos, w.pos + {SPAN_K})) AS p
                FROM w JOIN dup USING (g)
            )
            GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
               ROUND(CAST(COALESCE(c.covered, 0) AS DOUBLE)
                     / CAST(len(t.t) AS DOUBLE), 6) AS dup_fraction
        FROM toks t LEFT JOIN cov c USING (doc_id)
    """,
    tags=("dedup", "scale"),
    doc="Per-doc fraction of tokens inside cross-doc duplicated >=5-token spans.",
)
def x89_substring_dup_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-SUBSTRING coverage (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    the fraction of its tokens lying inside a >= SPAN_K-token span
    that also appears in ANOTHER document — the verbatim-boilerplate
    measure that doc-level (x01/x04) and fixed-segment (x50) dedup
    both miss, because shared spans sit at ARBITRARY offsets. Lee et
    al. build a suffix array; the Spark-native equivalent is a
    sliding k-token window index: windows at every position, grouped
    by window text, kept where >= 2 distinct docs collide, then each
    doc's covered positions unioned by an explode+distinct (interval
    union without interval logic). Never doc x doc: the only shuffle
    keys are window text (the k-mer index — x50's shape at stride 1)
    and doc_id. Stride-1 windows cost K rows per token; at 100 TB
    that constant buys offset-independence, and the window text can
    be hashed (xxhash64) to shrink the shuffle — kept as raw text
    here so the DuckDB oracle reproduces it verbatim."""
    toks = load_parallel(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    w = (
        toks.filter(F.size("t") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {SPAN_K - 1}), i -> struct(i AS pos, "
                    f"concat_ws(' ', element_at(t, i), element_at(t, i + 1), "
                    f"element_at(t, i + 2), element_at(t, i + 3), element_at(t, i + 4)) AS g))"
                )
            ).alias("w"),
        )
        .select("doc_id", "w.pos", "w.g")
        # two branches reuse the window table (the collision groupBy
        # and the coverage join) and Catalyst does not CSE reused
        # DataFrames (the x92 lesson): persist — Spark spills the
        # K-per-token rows to disk at scale, which still beats
        # re-exploding the corpus per branch
        .persist()
    )
    dup = (
        w.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    cov = (
        w.join(dup, "g")
        .select("doc_id", F.explode(F.expr(f"sequence(pos, pos + {SPAN_K - 1})")).alias("p"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("covered"))
    )
    return (
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("covered", F.lit(0)).cast("long").alias("covered_tokens"),
            F.round(
                F.coalesce("covered", F.lit(0)).cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )
