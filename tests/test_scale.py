"""Scale-path tests: skew salting, skew profiling, bucketed
co-located joins. These verify the 100 TB toolkit gives IDENTICAL
results to the naive plans while changing the physical shape."""

from __future__ import annotations

import pytest

from etl_spark.plans import formatted_plan, key_skew_profile, node_count, salted_join
from etl_spark.sources.writers import bucketed_save
from etl_spark.tables import load


def _same_rows(a, b) -> bool:
    return a.count() == b.count() and a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(spark, sf_dir, how):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    plain = li.join(orders, on=["l_orderkey"], how=how)
    salted = salted_join(li, orders, on=["l_orderkey"], n_salts=4, how=how)
    assert "__salt" not in salted.columns
    assert _same_rows(plain, salted)


def test_salted_join_hot_keys_only(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    hot = key_skew_profile(li, ["l_orderkey"], top_n=5).select("l_orderkey")
    plain = li.join(orders, on=["l_orderkey"], how="inner")
    salted = salted_join(
        li, orders, on=["l_orderkey"], n_salts=4, how="inner", hot_keys=hot
    )
    assert _same_rows(plain, salted)


def test_salted_join_identical_rows_degenerate_and_salt_cols_fix(spark):
    """The salt is a deterministic row hash, so byte-identical rows
    (the classic hot-key workload: one repeated default/null-key row)
    all land on ONE salt — the mitigation silently degenerates. The
    documented fix is salt_cols naming a unique column; this test
    pins both behaviors so the contract is enforced, not folklore."""
    from pyspark.sql import functions as F

    # 2000 rows of the hot key: identical except a unique event_id
    big = spark.range(2000).select(
        F.lit("hot").alias("k"),
        F.lit(1.0).alias("payload"),
        F.col("id").alias("event_id"),
    )
    dim = spark.createDataFrame([("hot", 7)], ["k", "w"])

    def n_distinct_salts(cols):
        salted = big.select(cols).withColumn(
            "__s",
            F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(8)).cast("int"),
        )
        return salted.select("__s").distinct().count()

    # identical rows (drop the unique col) -> every row hashes alike
    assert n_distinct_salts(["k", "payload"]) == 1
    # mixing in the unique id spreads the hot key over the salt space
    assert n_distinct_salts(["k", "payload", "event_id"]) == 8

    # and the join itself stays correct with salt_cols set
    plain = big.join(dim, on=["k"], how="inner")
    salted = salted_join(
        big, dim, on=["k"], n_salts=8, salt_cols=["event_id"]
    )
    assert _same_rows(plain, salted)
    with pytest.raises(ValueError, match="salt_cols"):
        salted_join(big, dim, on=["k"], salt_cols=["nope"])


def test_key_skew_profile_matches_manual_count(spark, sf_dir):
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem")
    prof = key_skew_profile(li, ["l_orderkey"], top_n=3).collect()
    manual = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "l_orderkey")
        .limit(3)
        .collect()
    )
    assert prof[0].n_rows == manual[0].n
    total = li.count()
    assert prof[0].share == pytest.approx(prof[0].n_rows / total, abs=1e-5)


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key with equal bucket counts
    join with zero Exchange nodes — the co-location guarantee that
    removes the fact-table shuffle at 100 TB."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bucketed_save(li, "b_lineitem", ["l_orderkey"], n_buckets=8)
    bucketed_save(orders, "b_orders", ["o_orderkey"], n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so the shuffle question is real
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # each spark.table() call resolves the table afresh (the session
        # keeps no relation cache), so bind each side once
        b_li, b_ord = spark.table("b_lineitem"), spark.table("b_orders")
        joined = b_li.join(b_ord, b_li.l_orderkey == b_ord.o_orderkey)
        plan = formatted_plan(joined)
        assert node_count(plan, "Exchange") == 0, plan
        assert joined.count() == load(spark, sf_dir, "lineitem").count()

        # the unbucketed twin DOES shuffle both sides
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert node_count(formatted_plan(plain), "Exchange") == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_agg_has_no_shuffle(spark, sf_dir):
    """Aggregation keyed on the bucket column also skips its
    exchange."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    bucketed_save(li, "b_li_agg", ["l_orderkey"], n_buckets=8)
    try:
        agg = spark.table("b_li_agg").groupBy("l_orderkey").sum("l_quantity")
        assert node_count(formatted_plan(agg), "Exchange") == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li_agg")


def test_partitioned_table_prunes_and_dynamic_overwrite(spark, sf_dir):
    """Partition pruning: a filter on the partition column appears as
    a PartitionFilter (directory-level skip), and dynamic overwrite
    replaces only the partitions present in the incoming frame."""
    from pyspark.sql import functions as F

    from etl_spark.plans import formatted_plan
    from etl_spark.sources.writers import partitioned_save

    orders = load(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    partitioned_save(orders, "p_orders", ["order_month"])
    try:
        months = [r.order_month for r in
                  spark.table("p_orders").select("order_month").distinct().collect()]
        target = sorted(months)[0]
        q = spark.table("p_orders").filter(F.col("order_month") == target)
        plan = formatted_plan(q)
        assert "PartitionFilters" in plan and "order_month" in plan
        n_before = q.count()
        assert n_before > 0

        # dynamic overwrite: rewrite ONLY the target month with 1 row
        # (from the source frame — overwriting a table from itself is
        # illegal, as in any engine with lazy plans)
        one = orders.filter(F.col("order_month") == target).limit(1)
        partitioned_save(one, "p_orders", ["order_month"])
        assert (
            spark.table("p_orders").filter(F.col("order_month") == target).count() == 1
        )
        # other partitions untouched
        other = sorted(months)[1]
        assert (
            spark.table("p_orders").filter(F.col("order_month") == other).count()
            == orders.filter(F.col("order_month") == other).count()
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS p_orders")


def test_incremental_rollup_equals_full_recompute(spark, sf_dir):
    """The script-30 upgrade: a delta touching one month refreshes
    exactly that partition, and the table equals a from-scratch
    rebuild of the updated source."""
    from pyspark.sql import functions as F

    from etl_spark.operators.incremental import refresh_rollup

    def build(df):
        return (
            df.groupBy(
                F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                "o_orderpriority",
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("revenue"),
            )
        )

    orders = load(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    base = orders.filter(F.col("o_orderkey") % 10 != 0)  # initial load
    late = orders.filter(F.col("o_orderkey") % 10 == 0).filter(
        F.date_format("o_orderdate", "yyyy-MM") == "1996-03"
    )  # late-arriving rows, all in one month
    assert late.count() > 0

    try:
        n = refresh_rollup(spark, base, "dwd_rollup", "month", build)
        assert n == base.select(
            F.date_format("o_orderdate", "yyyy-MM")
        ).distinct().count()

        updated_source = base.unionByName(late)
        n2 = refresh_rollup(
            spark, updated_source, "dwd_rollup", "month", build, delta=late
        )
        assert n2 == 1  # only 1996-03 rewritten

        got = spark.table("dwd_rollup")
        want = build(updated_source)
        assert _same_rows(got.select(*want.columns), want)
    finally:
        spark.sql("DROP TABLE IF EXISTS dwd_rollup")


def test_stop_shingle_cap_bounds_candidate_fanout(spark, tmp_path):
    """VERDICT r1 next-step #4: on a corpus with one hot boilerplate
    shingle shared by N docs, the uncapped inverted index (x02's
    candidate generator) fans out O(N²) pairs while x23's
    stop-shingle-capped index stays bounded by the rare-shingle tail.
    Built as a drop-in sf_dir so the REGISTERED operators run as-is."""
    import pyspark.sql.functions as F

    from etl_spark.extensions.dedup import STOP_SHINGLE_CAP, _shingled
    from etl_spark.registry import all_specs

    n = 120
    boiler = "all rights reserved worldwide"
    rows = [(i, f"document {i} unique body text-{i} token-{i} {boiler}") for i in range(n)]
    # two true near-dup docs sharing rare shingles
    rows += [(900, "alpha beta gamma delta epsilon zeta"),
             (901, "alpha beta gamma delta epsilon eta")]
    spark.createDataFrame(rows, "doc_id BIGINT, text STRING").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    sh = _shingled(spark, sf)
    uncapped_cands = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("nd"))
    capped_idx = sh.join(
        freq.filter(F.col("nd") <= STOP_SHINGLE_CAP).select("shingle"), "shingle"
    )
    capped_cands = (
        capped_idx.alias("a")
        .join(
            capped_idx.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert uncapped_cands >= n * (n - 1) // 2  # the O(N²) boilerplate blowup
    assert capped_cands <= 10  # bounded: only rare-shingle overlaps survive

    # and the registered x23 still finds the TRUE near-dup pair, with
    # its jaccard computed over FULL shingle sets (exact score)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in all_specs()["x23_jaccard_capped_pairs"].fn(spark, sf).collect()
    }
    assert (900, 901) in got


def test_compact_unpartitioned_reduces_files(spark, tmp_path):
    from pyspark.sql import Row

    from etl_spark.maintenance import compact_table, file_inventory

    t = "compact_flat"
    df = spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(1000)])
    df.repartition(24).write.mode("overwrite").saveAsTable(t)
    before = sum(len(v) for v in file_inventory(spark, t).values())
    assert before >= 24
    res = compact_table(spark, t, target_file_mb=128)
    assert res["files_before"] == before
    assert res["files_after"] <= 2  # tiny table → ~1 file
    assert spark.table(t).count() == 1000
    spark.sql(f"DROP TABLE {t}")


def test_compact_partitioned_touches_only_fragmented_partitions(spark, tmp_path):
    """Partition d0 is fragmented (many small appends — the streaming
    ingest pattern); d1 is already one file. Compaction must rewrite
    d0 and leave d1's files byte-identical."""
    from pyspark.sql import Row

    from etl_spark.maintenance import compact_table, file_inventory
    from etl_spark.sources.writers import partitioned_save

    t = "compact_part"
    base = spark.createDataFrame(
        [Row(id=i, day="d1", v=float(i)) for i in range(50)]
    )
    partitioned_save(base, t, ["day"])
    # fragment d0 with 6 small appends
    for k in range(6):
        spark.createDataFrame(
            [Row(id=1000 + 10 * k + j, day="d0", v=1.0) for j in range(5)]
        ).select("id", "v", "day").write.mode("append").insertInto(t)
    inv0 = file_inventory(spark, t)
    assert len(inv0["day=d0"]) >= 6
    d1_before = sorted(inv0["day=d1"])

    res = compact_table(spark, t, target_file_mb=64)
    assert res["partitions_compacted"] == 1
    inv1 = file_inventory(spark, t)
    assert len(inv1["day=d0"]) == 1
    assert sorted(inv1["day=d1"]) == d1_before  # untouched, same files+sizes
    assert spark.table(t).filter("day = 'd0'").count() == 30
    assert spark.table(t).count() == 80
    spark.sql(f"DROP TABLE {t}")


def test_analyze_table_records_stats(spark, sf_dir):
    from etl_spark.maintenance import analyze_table
    from etl_spark.tables import load

    t = "an_nation"
    load(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(t)
    stats = analyze_table(spark, t, columns=["n_nationkey", "n_name"])
    assert stats["statistics"] and "rows" in stats["statistics"]
    spark.sql(f"DROP TABLE {t}")


def test_sorted_save_tightens_file_ranges(spark, sf_dir):
    """sorted_save: each output file covers a disjoint sort-key range
    (tight min/max stats ⇒ row-group/file skipping for pushed
    filters). Verified by reading each file's key span directly."""
    import pyarrow.parquet as pq

    from etl_spark.maintenance import file_inventory, table_location
    from etl_spark.sources.writers import sorted_save
    from etl_spark.tables import load

    t = "sorted_orders"
    sorted_save(load(spark, sf_dir, "orders"), t, ["o_orderdate"], n_files=4)
    loc = table_location(spark, t)
    inv = file_inventory(spark, t)
    spans = []
    import os

    for rel, files in inv.items():
        for f, _sz in files:
            md = pq.read_metadata(os.path.join(loc, rel, f) if rel else os.path.join(loc, f))
            names = [md.schema.column(i).name for i in range(len(md.schema))]
            col_idx = names.index("o_orderdate")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans.append((min(mins), max(maxs)))
    assert len(spans) == 4
    spans.sort()
    for (a_min, a_max), (b_min, b_max) in zip(spans, spans[1:]):
        assert a_max <= b_min  # disjoint (boundary rows may share a date)
    # a date filter still pushes into the scan
    plan = (
        spark.table(t)
        .filter("o_orderdate >= '2000-01-01'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "o_orderdate" in plan
    spark.sql(f"DROP TABLE {t}")


def test_compact_partitioned_int_and_encoded_values(spark, tmp_path):
    """Compaction must handle NON-string partition columns (typed
    literal comparison — a cast on the column would defeat pruning)
    and hive URL-encoded partition values (e.g. spaces)."""
    from pyspark.sql import Row

    from etl_spark.maintenance import compact_table, file_inventory
    from etl_spark.sources.writers import partitioned_save

    t = "compact_typed"
    base = spark.createDataFrame(
        [Row(id=i, bucket=7, name="a b", v=float(i)) for i in range(20)]
    )
    partitioned_save(base, t, ["bucket", "name"])
    for k in range(4):  # fragment the (7, 'a b') partition
        spark.createDataFrame(
            [Row(id=100 + k, v=1.0, bucket=7, name="a b")]
        ).select("id", "v", "bucket", "name").write.mode("append").insertInto(t)
    inv = file_inventory(spark, t)
    (pkey,) = [k for k in inv if k]
    assert "bucket=7" in pkey and "name=a" in pkey  # space survives the path
    assert len(inv[pkey]) >= 5

    res = compact_table(spark, t, target_file_mb=64)
    assert res["partitions_compacted"] == 1
    assert len(file_inventory(spark, t)[pkey]) == 1
    assert spark.table(t).count() == 24
    spark.sql(f"DROP TABLE {t}")


def test_zorder_save_skips_files_in_both_dimensions(spark, sf_dir):
    """Z-order vs single-column sort, judged from the actual parquet
    footers: with a value-sorted layout a narrow event_id probe
    overlaps EVERY file (no skipping on the unsorted column), while
    the z-ordered layout skips files for narrow probes on EITHER
    column — the 2-D data-skipping property that justifies the Morton
    key. Rows must round-trip identically."""
    import glob
    import os

    import pyarrow.parquet as pq

    from etl_spark.sources.writers import zorder_save, sorted_save
    from etl_spark.tables import load

    ev = load(spark, sf_dir, "events").select("event_id", "value")
    n_files = 8
    sorted_save(ev, "zs_value_sorted", ["value"], n_files=n_files)
    zorder_save(ev, "zs_zordered", "event_id", "value", n_files=n_files)

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def file_envelopes(table):
        out = []
        for f in glob.glob(os.path.join(wh, table, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins, maxs = {}, {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if st is None:
                        continue
                    mins[name] = min(mins.get(name, st.min), st.min)
                    maxs[name] = max(maxs.get(name, st.max), st.max)
            out.append((mins, maxs))
        return out

    def overlapping(envs, colname, lo, hi):
        return sum(
            1 for mins, maxs in envs
            if colname in mins and not (maxs[colname] < lo or mins[colname] > hi)
        )

    # narrow mid-span probes (~10% of each column's range)
    import pyspark.sql.functions as F

    mn_e, mx_e, mn_v, mx_v = ev.agg(
        F.min("event_id"), F.max("event_id"), F.min("value"), F.max("value")
    ).first()
    e_lo = mn_e + (mx_e - mn_e) * 45 // 100
    e_hi = mn_e + (mx_e - mn_e) * 55 // 100
    v_lo = mn_v + (mx_v - mn_v) * 0.45
    v_hi = mn_v + (mx_v - mn_v) * 0.55

    vs = file_envelopes("zs_value_sorted")
    zo = file_envelopes("zs_zordered")
    assert len(vs) == len(zo) == n_files

    # single-column sort: skipping on its own column, NONE on the other
    assert overlapping(vs, "value", v_lo, v_hi) < n_files
    assert overlapping(vs, "event_id", e_lo, e_hi) == n_files

    # z-order: skipping on BOTH columns
    assert overlapping(zo, "event_id", e_lo, e_hi) < n_files
    assert overlapping(zo, "value", v_lo, v_hi) < n_files

    got = sorted(
        (r.event_id, r.value) for r in spark.table("zs_zordered").collect()
    )
    want = sorted((r.event_id, r.value) for r in ev.collect())
    assert got == want
