"""Fuzzy (edit-distance) entity matching with a LOSSLESS q-gram
count filter — approximate string joins without the n^2 cross join
(Gravano et al., VLDB 2001; the count-filter bound also in Xiao et
al.'s Ed-Join line of work).

Reference relevance: the reference matches entities by exact equality
only (web_scheduler.py joins on ids/names); real catalogs carry
typos, pluralization, re-keyed vendors. Edit-distance joins are the
entity-resolution primitive the n-gram/MinHash dedup family (x02/x04)
cannot express: Jaccard over shingles is set-based and
length-insensitive, while levenshtein counts ORDERED edits —
"old ring"/"red ring" is 2 edits but high Jaccard overlap is not
implied and vice versa.

The naive form is a quadratic cross join with levenshtein() — the
exact shape the DuckDB oracle runs, and exactly what cannot run at
100 TB. The Spark plan instead generates CANDIDATES from an inverted
q-gram index and rescans nothing:

- **Count filter (lossless)**: one edit destroys at most q q-grams,
  so ed(a,b) <= d implies the multiset q-gram intersection is >=
  max(|Ga|,|Gb|) - q*d (|Ga| = len(a)-q+1). Candidate pairs come
  from joining per-(name, gram) COUNTS on the gram (an inverted
  index, like x02's shingle index), summing least(ca, cb), and
  keeping pairs meeting the bound — every true pair shares >= 1
  gram whenever its bound is >= 1, so the join cannot miss it.
- **Short-string block**: strings with len <= q*d + q - 1 have a
  vacuous bound (<= 0) and may share ZERO grams with a true match
  ("ab" vs "cd" at d=2 edits is impossible, but "ab" vs "bd"... any
  len<=5 pair), so they pair against every name within the length
  filter instead. That block is bounded by the short-string
  vocabulary (alphabet^5), not the corpus.
- **Length filter**: |len(a)-len(b)| <= d everywhere (one edit
  changes length by at most 1).

False candidates cost only a levenshtein() evaluation in the final
rescore — never a wrong row, because the rescore applies the exact
predicate. Skew note: a stop-gram ("er", "in") fans out like any
inverted index; the standard mitigation is prefix filtering on a
rare-gram-first ordering (the x23 stop-shingle cap is this family's
precedent) — at the catalog sizes fuzzy matching targets (entity
vocabularies, not raw corpora) the count filter alone holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.registry import register
from etl_spark.tables import load

Q = 2  # q-gram width
MAX_DIST = 2  # edit-distance threshold
# len <= q*d + q - 1 has count-filter bound <= 0: route to the short block
SHORT_LEN = Q * MAX_DIST + Q - 1


def _grams(names: DataFrame, q: int = Q) -> DataFrame:
    """Per-(name, gram) multiset counts — the inverted q-gram index.
    ``names`` must carry distinct ``name`` plus ``nlen``."""
    return (
        names.filter(F.col("nlen") >= q)
        .select(
            "name",
            "nlen",
            F.explode(
                F.expr(f"transform(sequence(1, nlen - {q} + 1), i -> substring(name, i, {q}))")
            ).alias("gram"),
        )
        .groupBy("name", "nlen", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def fuzzy_pairs(names: DataFrame, max_dist: int = MAX_DIST, q: int = Q) -> DataFrame:
    """All unordered pairs of ``names.name`` within ``max_dist`` edits,
    via lossless q-gram candidate generation + exact levenshtein
    rescore. Returns (name_a, name_b, dist) with name_a < name_b."""
    names = names.select("name", F.length("name").alias("nlen")).distinct()
    grams = _grams(names, q)
    ga = grams.select(
        F.col("name").alias("name_a"), F.col("nlen").alias("la"), "gram", F.col("c").alias("ca")
    )
    gb = grams.select(
        F.col("name").alias("name_b"), F.col("nlen").alias("lb"), "gram", F.col("c").alias("cb")
    )
    long_cand = (
        ga.join(gb, "gram")
        .filter((F.col("name_a") < F.col("name_b")) & (F.abs(F.col("la") - F.col("lb")) <= max_dist))
        .groupBy("name_a", "name_b", "la", "lb")
        .agg(F.sum(F.least("ca", "cb")).alias("shared"))
        .filter(F.col("shared") >= F.greatest("la", "lb") - F.lit(q - 1) - F.lit(q * max_dist))
        .select("name_a", "name_b")
    )
    short_len = q * max_dist + q - 1
    shorts = names.filter(F.col("nlen") <= short_len)
    near = names.filter(F.col("nlen") <= short_len + max_dist)
    short_cand = (
        shorts.alias("s")
        .join(
            near.alias("t"),
            (F.abs(F.col("s.nlen") - F.col("t.nlen")) <= max_dist)
            & (F.col("s.name") != F.col("t.name")),
        )
        .select(
            F.least("s.name", "t.name").alias("name_a"),
            F.greatest("s.name", "t.name").alias("name_b"),
        )
        .distinct()
    )
    return (
        long_cand.union(short_cand)
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
    )


@register(
    "x86_fuzzy_name_match",
    oracle=f"""
        SELECT a.p_name AS name_a,
               b.p_name AS name_b,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM (SELECT DISTINCT p_name FROM part) a
        JOIN (SELECT DISTINCT p_name FROM part) b
          ON a.p_name < b.p_name
         AND abs(length(a.p_name) - length(b.p_name)) <= {MAX_DIST}
        WHERE levenshtein(a.p_name, b.p_name) <= {MAX_DIST}
    """,
    tags=("extension", "fuzzy", "entity-resolution", "scale"),
    doc="Edit-distance<=2 part-name pairs via lossless q-gram blocking.",
)
def x86_fuzzy_name_match(spark: SparkSession, sf: str) -> DataFrame:
    """Part names within 2 edits of each other — typo/variant
    detection over the catalog. The oracle runs the quadratic
    levenshtein join; the Spark plan generates candidates from the
    inverted q-gram index (count filter, module docstring) and
    rescores exactly, so the results match row-for-row while the
    candidate volume scales with gram collisions, not catalog^2."""
    names = load(spark, sf, "part").select(F.col("p_name").alias("name"))
    return fuzzy_pairs(names)


# the shared md5 hash chain (ONE definition repo-wide — review
# finding: a second copy can silently diverge from the family it must
# stay bit-identical with); the CAST-to-STRING inside is a no-op on
# the string names hashed here
from etl_spark.extensions.sketches import _H_DUCK, _H_SPARK  # noqa: E402


@register(
    "x90_entity_clusters",
    oracle=f"""
        WITH RECURSIVE nm AS (
            SELECT DISTINCT p_name AS name,
                   {_H_DUCK.format(col="p_name")} AS id
            FROM part
        ),
        pairs AS (
            SELECT a.id AS ia, b.id AS ib
            FROM nm a JOIN nm b
              ON a.name < b.name
             AND abs(length(a.name) - length(b.name)) <= {MAX_DIST}
             AND levenshtein(a.name, b.name) <= {MAX_DIST}
        ),
        edges AS (
            SELECT ia AS s, ib AS d FROM pairs
            UNION ALL
            SELECT ib AS s, ia AS d FROM pairs
        ),
        verts AS (SELECT DISTINCT s AS id FROM edges),
        reach(id, lbl) AS (
            SELECT id, id FROM verts
            UNION
            SELECT e.s, r.lbl FROM edges e JOIN reach r ON r.id = e.d
        ),
        lab AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id)
        SELECT n.name, cn.name AS canonical
        FROM lab l
        JOIN nm n  ON n.id  = l.id
        JOIN nm cn ON cn.id = l.lbl
    """,
    tags=("extension", "fuzzy", "entity-resolution", "graph"),
    doc="End-to-end entity resolution: fuzzy pairs -> CC -> canonical name.",
)
def x90_entity_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Entity RESOLUTION, not just matching: x86's lossless-blocked
    edit-distance pairs become edges, connected components merge
    transitive variants ("cold ring" ~ "old ring" ~ "red ring" is ONE
    entity even though the ends are 3 edits apart), and each cluster
    elects a canonical surface form — the min-content-hash member, a
    content-stable choice that never flips as the catalog grows (the
    x29 min-id rule with md5 standing in for doc ids, bit-identical
    in both engines via the shared hash chain). Names in no pair are
    untouched (not emitted), exactly like x29. The full record-linkage
    pipeline — block, match, cluster, canonicalize — in one plan with
    no quadratic stage."""
    from etl_spark.extensions.dedup import connected_components

    names = load(spark, sf, "part").select(F.col("p_name").alias("name"))
    pairs = fuzzy_pairs(names)
    ids = names.distinct().select(
        "name", F.expr(_H_SPARK.format(col="name")).alias("id")
    ).persist()
    ia = ids.select(F.col("name").alias("name_a"), F.col("id").alias("doc_a"))
    ib = ids.select(F.col("name").alias("name_b"), F.col("id").alias("doc_b"))
    edges = pairs.join(ia, "name_a").join(ib, "name_b").select("doc_a", "doc_b")
    labels = connected_components(edges)
    return (
        labels.join(ids, labels.doc_id == ids.id)
        .select("name", "lbl")
        .join(
            ids.select(F.col("id").alias("lbl"), F.col("name").alias("canonical")),
            "lbl",
        )
        .select("name", "canonical")
    )
