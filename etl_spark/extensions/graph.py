"""Graph analytics over relationship tables — PageRank in exact
fixed-point arithmetic (Brin & Page 1998; the Pregel-on-DataFrames
iteration pattern, each round one join + one aggregate).

Reference relevance: the reference's dashboards rank entities by
direct aggregates (web_scheduler.py:4582-4733 — counts per task);
a graph centrality ranks them by STRUCTURE — a supplier is important
because important customers trade with it, recursively. The dedup
family already runs one graph algorithm (x29's connected components,
dedup.py:535); PageRank is the weighted-importance sibling and the
canary for hub entities (a vendor every customer touches, a boilerplate
doc every near-dup cluster links through).

Graph: the customer<->supplier trade graph — an edge wherever a
lineitem connects a supplier to an order's customer. Node ids pack
both keys into one BIGINT space (customer -> 2k, supplier -> 2k+1) so
the rank table is a single keyed DataFrame.

Determinism (the iterative-float trap): textbook PageRank sums
double contributions, and float addition is order-dependent — a
Spark shuffle and a DuckDB hash agg would disagree in the last ulp
and the value-hash gate would flake. All arithmetic here is
FIXED-POINT BIGINT: ranks are scaled by 10^12, shares are integer
division r DIV deg, damping is (85 * x) DIV 100. Integer addition is
associative and commutative, so any execution order — 1 partition or
1000 — produces bit-identical ranks, and the DuckDB oracle (the same
three iterations unrolled as CTEs) matches exactly. Truncation loses
<1 unit per edge per round at 10^12 scale: invisible for ranking,
priceless for verification.

Scale shape: edges come from ONE distinct aggregate over the fact
join; both orientations explode from one pass (the x29 convention —
a self-union would re-evaluate the upstream plan). Each iteration is
one shuffle join (|E| rows, skinny: node+share) and one aggregate to
|V| rows; iterations are FIXED at T=3, so lineage stays bounded
without checkpointing, and edges/degrees persist across rounds. At
100 TB the rank state is |V| rows — millions, not the fact table's
billions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.registry import register
from etl_spark.tables import load

SCALE = 10**12  # fixed-point scale for rank mass
T_ITERS = 3  # fixed iteration count (also unrolled in the oracle)


def pagerank_fixedpoint(edges: DataFrame, iters: int = T_ITERS) -> DataFrame:
    """PageRank over a directed edge list (src BIGINT, dst BIGINT) in
    fixed-point bigint arithmetic. Returns (node, deg, r) with r the
    scaled rank after ``iters`` rounds. ``edges`` should be persisted
    by the caller if its lineage is expensive (it is scanned once per
    round plus once for degrees)."""
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg")).persist()
    n = deg.count()  # scalar collect — bounded driver artifact
    # PRECONDITION: every node must have outdegree >= 1 (symmetrize a
    # directed graph first, as x85 does) — a dst-only sink node would
    # silently fall out of deg and its inflow mass would vanish
    # (review finding). The check is one anti-join count, paid once.
    dangling = (
        edges.select(F.col("dst").alias("node"))
        .distinct()
        .join(deg.select("node"), "node", "left_anti")
        .count()
    )
    if dangling:
        raise ValueError(
            f"pagerank_fixedpoint: {dangling} node(s) appear only as dst "
            f"(outdegree 0) — symmetrize or add self-loops first"
        )
    r0 = SCALE // n
    teleport = (15 * r0) // 100
    ranks = deg.select("node", "deg", F.lit(r0).cast("long").alias("r"))
    for _ in range(iters):
        shares = ranks.select(F.col("node").alias("u"), F.expr("r DIV deg").alias("share"))
        inflow = (
            edges.join(shares, edges.src == shares.u)
            .groupBy("dst")
            .agg(F.sum("share").alias("inflow"))
        )
        ranks = deg.join(inflow, deg.node == inflow.dst, "left").select(
            "node",
            "deg",
            (
                F.lit(teleport).cast("long")
                + F.expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) DIV 100")
            ).alias("r"),
        )
    return ranks


def _iter_cte(prev: str, cur: str) -> str:
    """One unrolled PageRank round as a DuckDB CTE — the exact
    integer arithmetic of ``pagerank_fixedpoint``."""
    return f"""
        {cur} AS (
            SELECT d.node, d.deg,
                   CAST((15 * (1000000000000 // (SELECT n FROM cnt))) // 100
                        + (85 * CAST(COALESCE(SUM(s.r // s.deg), 0) AS BIGINT)) // 100
                        AS BIGINT) AS r
            FROM deg d
            LEFT JOIN edges e ON e.dst = d.node
            LEFT JOIN {prev} s ON s.node = e.src
            GROUP BY d.node, d.deg
        )"""


_X85_ORACLE = f"""
        WITH pairs AS (
            SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        edges AS (
            SELECT c AS src, s AS dst FROM pairs
            UNION ALL
            SELECT s AS src, c AS dst FROM pairs
        ),
        deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
        cnt AS (SELECT COUNT(*) AS n FROM deg),
        r0 AS (
            SELECT node, deg,
                   CAST(1000000000000 // (SELECT n FROM cnt) AS BIGINT) AS r
            FROM deg
        ),{_iter_cte("r0", "r1")},{_iter_cte("r1", "r2")},{_iter_cte("r2", "r3")}
        SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
                 AS node_type,
               node // 2 AS entity_key,
               r AS rank_scaled
        FROM r3
"""


@register(
    "x85_pagerank_trade_graph",
    oracle=_X85_ORACLE,
    tags=("extension", "graph", "iterative", "scale"),
    doc="Fixed-point PageRank over the customer<->supplier trade graph.",
)
def x85_pagerank_trade_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Rank every customer and supplier by trade-graph centrality:
    3 PageRank rounds (damping 0.85) in fixed-point bigint arithmetic
    so Spark and the unrolled-CTE DuckDB oracle agree bit-for-bit —
    see the module docstring for why floats cannot survive this gate.
    Edges are one distinct aggregate over lineitem⋈orders, both
    orientations exploded from a single pass, persisted once and
    reused by all three rounds; per-round work is one skinny
    (node, share) shuffle join plus a |V|-row aggregate."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                    F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()
    )
    ranks = pagerank_fixedpoint(edges)
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node DIV 2").alias("entity_key"),
        F.col("r").alias("rank_scaled"),
    )


# --- incremental connected components ---------------------------------
#
# x29 computes duplicate clusters as a batch fixpoint. At ingestion
# time new near-dup PAIRS arrive batch by batch, and rerunning the
# full fixpoint over all history per batch is the one cost that grows
# with the corpus instead of the batch. The union-find quotient
# argument fixes it: CC(all edges) == CC applied to the QUOTIENT graph
# whose nodes are the current component labels — so a new batch only
# needs (1) its endpoints mapped to current labels, (2) a fixpoint
# over that batch-sized quotient graph, (3) a label REMAP applied to
# the stored state. Steps 1-2 are batch-sized; step 3 is a remap
# table with one row per MERGED component — never a corpus rescan.
#
# Stored layout (the ivf_index_append/compact convention,
# similarity.py): base/ labels partitioned by pmod(lbl, CC_BUCKETS)
# plus delta_v<N>/ dirs, each _SUCCESS-committed and holding
#   remap/    (old_lbl, new_lbl) — components merged by this batch
#   newdocs/  (doc_id, lbl)     — docs first seen in this batch
# Readers fold remaps newest-last (composition via iterative small
# joins — remap tables are component-count-sized) and apply ONE
# broadcast join over base ∪ newdocs. compact_cc_index folds all
# deltas into a fresh base.


def cc_merge(
    labels: DataFrame,
    new_pairs: DataFrame,
    cached_out: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Merge a batch of undirected ``(doc_a, doc_b)`` pairs into
    existing ``(doc_id, lbl)`` labels. Returns ``(remap, newdocs)``:
    ``remap`` = (old_lbl, new_lbl) rows for every existing component
    whose label changes, ``newdocs`` = (doc_id, lbl) for docs not in
    ``labels``. Batch-sized work: the fixpoint runs on the quotient
    graph (endpoints mapped to their current labels), whose size is
    bounded by the batch's edge count.

    Both returned frames are consumed twice downstream, so three
    intermediates persist internally. Pass ``cached_out`` to receive
    every persisted frame for unpersisting once the results are
    materialized (cc_index_merge does, per streaming batch); one-shot
    callers like the registered x88 may omit it — their caches die
    with the query's session (the registered-query persist
    convention, cleared by the bench harness between queries)."""
    from etl_spark.extensions.dedup import connected_components

    # SCALE SHAPE: the label table is corpus-sized, the batch is not —
    # so the labels side is reduced to the batch's endpoints FIRST via
    # a broadcast semi join (one shuffle-free scan of labels), and
    # every join after that is batch-sized and broadcast. The old
    # direct left-join form shuffled the whole label table per batch.
    keys = new_pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sub = labels.join(F.broadcast(keys), "doc_id", "left_semi").persist()
    la = sub.select(F.col("doc_id").alias("doc_a"), F.col("lbl").alias("la"))
    lb = sub.select(F.col("doc_id").alias("doc_b"), F.col("lbl").alias("lb"))
    mapped = (
        new_pairs.join(F.broadcast(la), "doc_a", "left")
        .join(F.broadcast(lb), "doc_b", "left")
        .persist()
    )
    q_edges = mapped.select(
        F.coalesce("la", "doc_a").alias("doc_a"),
        F.coalesce("lb", "doc_b").alias("doc_b"),
    ).filter(F.col("doc_a") != F.col("doc_b"))
    q = connected_components(q_edges).persist()  # (doc_id=quotient node, lbl)
    # a quotient node is an existing label iff some endpoint RESOLVED
    # to it (an unlabeled endpoint's id can never equal a live label:
    # labels are member doc ids, and a labeled doc resolves) — so
    # membership is decided by the batch-sized mapped frame, not a
    # corpus-wide distinct over labels
    existing = (
        mapped.select(F.explode(F.array("la", "lb")).alias("doc_id"))
        .filter(F.col("doc_id").isNotNull())
        .distinct()
    )
    remap = (
        q.join(F.broadcast(existing), "doc_id", "left_semi")
        .filter(F.col("doc_id") != F.col("lbl"))
        .select(F.col("doc_id").alias("old_lbl"), F.col("lbl").alias("new_lbl"))
        .persist()
    )
    newdocs = (
        q.join(F.broadcast(existing), "doc_id", "left_anti")
        .select("doc_id", "lbl")
        .persist()
    )
    if cached_out is not None:
        cached_out.extend([sub, mapped, q, remap, newdocs])
    return remap, newdocs


def apply_remap(labels: DataFrame, remap: DataFrame) -> DataFrame:
    """Relabel: one broadcast join (remap has one row per merged
    component, dimension-sized by construction)."""
    return labels.join(
        F.broadcast(remap), labels.lbl == remap.old_lbl, "left"
    ).select("doc_id", F.coalesce("new_lbl", "lbl").alias("lbl"))


def compose_remaps(first: DataFrame, second: DataFrame) -> DataFrame:
    """Remap composition: apply ``first`` then ``second`` as ONE
    table — rows of ``first`` forwarded through ``second``, plus rows
    of ``second`` whose old_lbl ``first`` does not already rewrite."""
    fwd = first.alias("f").join(
        second.alias("s"), F.col("f.new_lbl") == F.col("s.old_lbl"), "left"
    ).select(
        F.col("f.old_lbl").alias("old_lbl"),
        F.coalesce("s.new_lbl", "f.new_lbl").alias("new_lbl"),
    )
    rest = second.join(
        first.select(F.col("old_lbl").alias("o2")),
        second.old_lbl == F.col("o2"),
        "left_anti",
    ).select("old_lbl", "new_lbl")
    return fwd.unionByName(rest)


@register(
    "x88_incremental_dup_clusters",
    oracle="""
        WITH RECURSIVE lsh AS (
            SELECT doc_a, doc_b FROM (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM documents a JOIN documents b
                  ON a.doc_id < b.doc_id AND a.lang = b.lang
                 AND a.doc_id % 37 = b.doc_id % 37
            ) t
        ),
        edges AS (
            SELECT doc_a AS s, doc_b AS d FROM lsh
            UNION ALL
            SELECT doc_b AS s, doc_a AS d FROM lsh
        ),
        verts AS (SELECT DISTINCT s AS doc_id FROM edges),
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
    """,
    tags=("extension", "graph", "incremental", "dedup"),
    doc="Quotient-graph incremental CC: stored labels absorb an edge batch.",
)
def x88_incremental_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Ingestion-time duplicate clustering — x29's connected
    components as a DELTA merge, completing the incremental family's
    graph side (x37 MinHash text / x44 embedding bands / x59 segments
    / x64 DSIR / x72 retrieval): labels built once from the SEEN half
    of the edge stream (even (doc_a+doc_b)), then the NEW half merges
    through the batch-sized quotient fixpoint + a component-count
    remap (module note). The final labels provably equal the full
    batch CC over all edges — which is exactly what the DuckDB
    recursive-CTE oracle computes — because CC(all) == CC(quotient by
    CC(seen)), the union-find argument.

    The edge fixture is a deterministic (lang, doc_id%37) blocking so
    both engines derive identical pairs without the full MinHash
    pipeline (x29 already oracle-checks that); what x88 gates is the
    MERGE algebra on a multi-clique graph whose cliques the seen/new
    split tears apart. Scale shape: quotient fixpoint bounded by the
    batch's edges; the remap join broadcasts one row per merged
    component; only the stored buckets containing remapped labels
    rewrite in the index form (build_cc_index/cc_index_merge,
    tests/test_graph.py)."""
    docs = load(spark, sf, "documents").select("doc_id", "lang")
    a = docs.alias("a")
    b = docs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.lang") == F.col("b.lang")),
        )
        .filter((F.col("a.doc_id") % 37) == (F.col("b.doc_id") % 37))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .persist()
    )
    from etl_spark.extensions.dedup import connected_components

    seen = pairs.filter((F.col("doc_a") + F.col("doc_b")) % 2 == 0)
    new = pairs.filter((F.col("doc_a") + F.col("doc_b")) % 2 == 1)
    labels = connected_components(seen)
    remap, newdocs = cc_merge(labels, new)
    merged = apply_remap(labels, remap).unionByName(newdocs)
    return merged.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        (F.col("doc_id") == F.col("lbl")).alias("is_canonical"),
    )


CC_BUCKETS = 16  # label-store partitioning: pmod(lbl, CC_BUCKETS)


def _empty_labels(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "doc_id BIGINT, lbl BIGINT")


def build_cc_index(labels: DataFrame, path: str) -> None:
    """Materialize (doc_id, lbl) labels as the CC index base,
    partitioned by pmod(lbl, CC_BUCKETS) so member lookups prune to
    one bucket directory."""
    (
        labels.withColumn("bucket", F.pmod(F.col("lbl"), F.lit(CC_BUCKETS)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("bucket")
        .parquet(f"{path}/base")
    )


def _delta_dirs(path: str) -> list[str]:
    """Committed delta_v<N> dirs in version order (commit marker =
    the remap/ write's _SUCCESS, written LAST in cc_index_merge)."""
    import glob
    import os
    import re

    from etl_spark.streaming.neardup import batch_committed

    out = []
    for d in glob.glob(os.path.join(path, "delta_v*")):
        m = re.fullmatch(r"delta_v(\d+)", os.path.basename(d))
        if m and batch_committed(os.path.join(d, "remap")):
            out.append((int(m.group(1)), d))
    return [d for _, d in sorted(out)]


def total_remap(spark: SparkSession, path: str) -> DataFrame | None:
    """All committed delta remaps composed newest-last into ONE
    (old_lbl, new_lbl) table — component-count-sized by construction."""
    dirs = _delta_dirs(path)
    if not dirs:
        return None
    acc = None
    for d in dirs:
        r = spark.read.parquet(f"{d}/remap")
        acc = r if acc is None else compose_remaps(acc, r)
    return acc


def cc_index_labels(spark: SparkSession, path: str) -> DataFrame:
    """Effective labels: base ∪ delta newdocs, pushed through the
    composed remap with ONE broadcast join."""
    import os

    base = (
        spark.read.parquet(f"{path}/base").select("doc_id", "lbl")
        if os.path.isdir(f"{path}/base")
        else _empty_labels(spark)
    )
    for d in _delta_dirs(path):
        base = base.unionByName(spark.read.parquet(f"{d}/newdocs").select("doc_id", "lbl"))
    remap = total_remap(spark, path)
    return base if remap is None else apply_remap(base, remap)


def cc_index_merge(spark: SparkSession, path: str, new_pairs: DataFrame, version: int) -> bool:
    """Absorb an edge batch as delta_v<version>: batch-sized quotient
    fixpoint, then a remap/newdocs delta — the base is NEVER
    rewritten (the ivf_index_append convention). Returns False when
    the version is already committed (replay skip); the delta is a
    pure function of the committed state below it plus the batch, so
    a replay that does run reproduces identical bytes. newdocs writes
    first; remap's _SUCCESS is the commit point."""
    import os

    from etl_spark.streaming.neardup import batch_committed

    d = os.path.join(path, f"delta_v{version}")
    if batch_committed(os.path.join(d, "remap")):
        return False
    cached: list = []
    remap, newdocs = cc_merge(cc_index_labels(spark, path), new_pairs, cached_out=cached)
    newdocs.write.mode("overwrite").parquet(f"{d}/newdocs")
    remap.write.mode("overwrite").parquet(f"{d}/remap")
    for df in cached:  # per-batch caches must not outlive the batch
        df.unpersist()
    return True


def compact_cc_index(spark: SparkSession, path: str) -> None:
    """Fold all deltas into a fresh base and drop them."""
    import shutil

    eff = cc_index_labels(spark, path).persist()
    eff.count()
    dirs = _delta_dirs(path)
    build_cc_index(eff, path)
    eff.unpersist()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def cluster_members(spark: SparkSession, path: str, cluster_id: int) -> DataFrame:
    """All doc_ids whose EFFECTIVE label is ``cluster_id``, reading
    only the base buckets that can contain them: the composed remap
    is inverted driver-side (component-count-sized) to find every
    stored label mapping to ``cluster_id``, and the scan prunes to
    those labels' buckets plus the delta newdocs."""
    import os

    remap = total_remap(spark, path)
    olds = [cluster_id]
    if remap is not None:
        rows = remap.filter(
            (F.col("new_lbl") == cluster_id) | (F.col("old_lbl") == cluster_id)
        ).collect()
        if any(r["old_lbl"] == cluster_id for r in rows):
            # cluster_id was merged INTO another component: labels only
            # decrease and doc ids are unique, so a remapped-away label
            # can never be effective again — stale base rows carrying
            # it must NOT match
            return _empty_labels(spark).select(
                "doc_id", F.lit(cluster_id).alias("cluster_id")
            )
        olds += [r["old_lbl"] for r in rows]
    buckets = sorted({o % CC_BUCKETS for o in olds})
    base = (
        spark.read.parquet(f"{path}/base")
        .filter(F.col("bucket").isin(buckets) & F.col("lbl").isin(olds))
        .select("doc_id", "lbl")
        if os.path.isdir(f"{path}/base")
        else _empty_labels(spark)
    )
    nd = _empty_labels(spark)
    for d in _delta_dirs(path):
        nd = nd.unionByName(
            spark.read.parquet(f"{d}/newdocs").filter(F.col("lbl").isin(olds))
        )
    return base.unionByName(nd).select("doc_id", F.lit(cluster_id).alias("cluster_id"))


# --- x115: triangle counting / clustering coefficient ---------------------
TRI_MIN_SUPPORT = 2  # co-purchase support floor for an edge (x92's floor)


@register(
    "x115_triangle_clustering",
    oracle=f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        prs AS (
            SELECT a.p AS pa, b.p AS pb
            FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        ),
        edges AS (
            SELECT pa AS a, pb AS b FROM prs
            GROUP BY pa, pb HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
        ),
        deg AS (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
                SELECT a AS v FROM edges
                UNION ALL SELECT b AS v FROM edges
            ) GROUP BY v
        ),
        oriented AS (
            SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
                   CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst
            FROM edges e
            JOIN deg da ON da.v = e.a
            JOIN deg db ON db.v = e.b
        ),
        tri AS (
            SELECT x.src AS a, x.dst AS b, y.dst AS c
            FROM oriented x
            JOIN oriented y ON y.src = x.dst
            JOIN oriented z ON z.src = x.src AND z.dst = y.dst
        ),
        pernode AS (
            SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
                SELECT a AS v FROM tri
                UNION ALL SELECT b AS v FROM tri
                UNION ALL SELECT c AS v FROM tri
            ) GROUP BY v
        )
        SELECT p.v AS p_partkey, g.d AS degree, p.n_triangles,
               ROUND(2.0 * p.n_triangles / (g.d * (g.d - 1)), 6)
                 AS clustering_coeff
        FROM pernode p JOIN deg g ON g.v = p.v
    """,
    tags=("graph", "scale"),
    doc="Per-part triangle counts + local clustering coefficient over the co-purchase graph.",
)
def x115_triangle_clustering(spark: SparkSession, sf: str) -> DataFrame:
    """TRIANGLE counting with LOCAL CLUSTERING COEFFICIENTS over the
    co-purchase graph (edges = part pairs bought together in >=
    {TRI_MIN_SUPPORT} orders, x92's support floor) — the community-
    density primitive behind 'bought-together bundles' and graph
    feature engineering, and the third classic graph algorithm next
    to x85's PageRank and x29/x88's connected components.

    The scale design is DEGREE ORIENTATION (Suri & Vassilvitskii,
    WWW 2011 — 'the curse of the last reducer'): each undirected
    edge points from its lower (degree, id) endpoint to the higher,
    making the wedge join fan out on OUT-degree, which orientation
    bounds by O(sqrt(|E|)) even for celebrity hubs — the naive
    neighbor join explodes quadratically on exactly those hubs. A
    triangle a<b<c (in orientation order) is counted exactly once:
    wedge (a->b, b->c) closed by the a->c edge test. Per-basket
    combinatorics generate candidate pairs (the x92 shape — never a
    parts x parts join); counts are exact bigints, the coefficient
    2T/(d(d-1)) is one rounded division.

    Spark shape: pair-gen aggregate -> support filter -> two |E|-row
    hash joins for degrees -> one wedge join + one closing join ->
    explode(3 roles) + |V|-sized aggregates. Edges persist across
    the deg/orient/close consumers (Catalyst does not CSE reused
    DataFrames — the x92 items lesson)."""
    li = load(spark, sf, "lineitem")
    items = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    baskets = items.groupBy("o").agg(
        F.sort_array(F.collect_list("p")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("pr")
    ).select("pr.a", "pr.b")
    edges = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= TRI_MIN_SUPPORT)
        .select("a", "b")
        .persist()
    )
    return triangle_clustering(edges).withColumnRenamed("v", "p_partkey")


def triangle_clustering(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficients for an
    UNDIRECTED edge list ``(a, b)`` with a < b and no duplicates — the
    degree-oriented kernel behind x115, reusable for any graph.
    Returns (v, degree, n_triangles, clustering_coeff) for nodes in at
    least one triangle. Callers should persist ``edges`` when its
    lineage is expensive (it feeds degree, orientation, and closure).
    """
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist()
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
        .persist()
    )
    x = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    y = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    z = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = x.join(y, "b").join(z, ["a", "c"])
    pernode = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return pernode.join(deg, "v").select(
        "v",
        F.col("d").alias("degree"),
        "n_triangles",
        F.round(
            2.0 * F.col("n_triangles") / (F.col("d") * (F.col("d") - 1)), 6
        ).alias("clustering_coeff"),
    )


def bfs_levels(
    edges: DataFrame, source: int, hops: int, materialize: bool = False
) -> DataFrame:
    """Exact hop distance from ``source`` over a DIRECTED edge list
    ``(src, dst)`` (symmetrize first for undirected graphs), bounded
    at ``hops`` — the frontier/visited kernel behind x117, reusable
    for any graph. Returns (node, level) for reachable nodes;
    ``edges`` should be persisted by the caller (scanned once per
    round).

    Cache discipline (ADVICE r10): per-hop frontiers persist so each
    is computed once when the BFS executes.

    - ``materialize=False`` (default, the one-shot query shape): the
      whole BFS stays lazy and runs as ONE fused job at the caller's
      action; the hop frontiers REMAIN cached afterwards and the
      caller owns clearing them (``spark.catalog.clearCache()`` or
      unpersisting the result's lineage). Fastest for collect-once
      use — an eager per-hop materialization measured 7x slower and
      a final forced pass 2.4x slower at sf0.1.
    - ``materialize=True`` (deep graphs / reusable state): the final
      visited set is persisted and forced, then every intermediate
      frontier cache is dropped — after return exactly one DataFrame
      (the result) is cached regardless of depth, and the lineage is
      safe to re-execute. Callers should ``.unpersist()`` the result
      when done."""
    frontier = (
        edges.filter(F.col("src") == source)
        .select("src")
        .distinct()
        .select(F.col("src").alias("node"))
    )
    visited = frontier.select("node", F.lit(0).cast("int").alias("level"))
    frontiers = []
    for hop in range(1, hops + 1):
        frontier = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .persist()
        )
        frontiers.append(frontier)
        visited = visited.unionAll(
            frontier.select("node", F.lit(hop).cast("int").alias("level"))
        )
    if materialize:
        visited = visited.persist()
        visited.count()  # one job: every frontier computed exactly once
        for f in frontiers:
            f.unpersist()
    return visited


# --- x117: BFS hop levels (bounded-depth shortest path) -------------------
BFS_SOURCE = 3  # packed node id: supplier s_suppkey = 1 (2k+1 packing)
BFS_HOPS = 3  # fixed depth, unrolled in the oracle like x85's T_ITERS

_X117_EDGES_SQL = """
        pairs AS (
            SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        edges AS (
            SELECT c AS src, s AS dst FROM pairs
            UNION ALL
            SELECT s AS src, c AS dst FROM pairs
        )"""

_X117_ORACLE = f"""
        WITH {_X117_EDGES_SQL},
        l0 AS (SELECT DISTINCT src AS node FROM edges WHERE src = {BFS_SOURCE}),
        l1 AS (
            SELECT DISTINCT e.dst AS node FROM edges e
            JOIN l0 ON e.src = l0.node
            EXCEPT SELECT node FROM l0
        ),
        l2 AS (
            SELECT DISTINCT e.dst AS node FROM edges e
            JOIN l1 ON e.src = l1.node
            EXCEPT (SELECT node FROM l0 UNION SELECT node FROM l1)
        ),
        l3 AS (
            SELECT DISTINCT e.dst AS node FROM edges e
            JOIN l2 ON e.src = l2.node
            EXCEPT (SELECT node FROM l0 UNION SELECT node FROM l1
                    UNION SELECT node FROM l2)
        ),
        lv AS (
            SELECT node, 0 AS level FROM l0
            UNION ALL SELECT node, 1 FROM l1
            UNION ALL SELECT node, 2 FROM l2
            UNION ALL SELECT node, 3 FROM l3
        )
        SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
                 AS node_type,
               node // 2 AS entity_key,
               CAST(level AS INT) AS level
        FROM lv
"""


@register(
    "x117_bfs_levels",
    oracle=_X117_ORACLE,
    tags=("graph", "scale"),
    doc="Bounded-depth BFS: exact hop distance from one supplier over the trade graph.",
)
def x117_bfs_levels(spark: SparkSession, sf: str) -> DataFrame:
    """BREADTH-FIRST hop levels from one source over the x85 trade
    graph — exact shortest-path distance for every entity within
    {BFS_HOPS} hops of supplier #1, the reachability/blast-radius
    primitive (which customers does a failing supplier touch, and
    through how many intermediaries?) that completes the graph
    family: PageRank ranks (x85), connected components partition
    (x29/x88), BFS MEASURES.

    The Pregel-on-DataFrames shape with a FRONTIER optimization:
    each round expands only the newest level (frontier join edges),
    anti-joins the visited set, and unions the survivors in at the
    next level — a node's level is therefore its first discovery
    round, i.e. the exact hop distance; integers only, nothing to
    round. Depth is FIXED at {BFS_HOPS} (unrolled in the oracle,
    the x85 convention) so lineage stays bounded without
    checkpointing.

    Scale: per round ONE |frontier|-keyed join against the
    persisted edge list plus one anti-join against visited (both
    node-id keyed Exchanges, never fact-sized after round 0); the
    visited set is |V|-bounded. Unbounded-diameter BFS wants the
    x29 checkpoint loop; bounded-hop queries — the common
    production ask — want exactly this unrolled form."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .persist()
    )
    visited = bfs_levels(edges, BFS_SOURCE, BFS_HOPS)
    return visited.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node DIV 2").alias("entity_key"),
        "level",
    )
