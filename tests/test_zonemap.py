"""Zone-map file skipping (sources/zonemap.py). The airtight part is
the contract: pruned scan == full scan + filter on EVERY shape (false
keeps cost IO, false skips are corruption), files without stats are
never skipped, and the map itself comes from footers only."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_spark.sources.zonemap import pruned_files, write_zonemap, zonemap_scan

N_FILES = 8
ROWS_PER_FILE = 100


@pytest.fixture(scope="module")
def table_and_map(tmp_path_factory):
    """8 files, k sorted across files (file i owns [i*100, i*100+99]),
    plus one extra file whose k column is ALL NULL."""
    d = tmp_path_factory.mktemp("zm_table")
    base = dt.datetime(2024, 1, 1)
    for i in range(N_FILES):
        ks = list(range(i * ROWS_PER_FILE, (i + 1) * ROWS_PER_FILE))
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(ks, pa.int64()),
                    "s": pa.array([f"{k:06d}" for k in ks]),
                    "ts": pa.array([base + dt.timedelta(minutes=k) for k in ks]),
                    "v": pa.array([k * 0.5 for k in ks], pa.float64()),
                }
            ),
            str(d / f"part-{i}.parquet"),
        )
    pq.write_table(
        pa.table(
            {
                "k": pa.array([None] * 5, pa.int64()),
                "s": pa.array(["zz"] * 5),
                "ts": pa.array([base] * 5),
                "v": pa.array([0.0] * 5, pa.float64()),
            }
        ),
        str(d / "part-nulls.parquet"),
    )
    zm = str(tmp_path_factory.mktemp("zm_map") / "zonemap")
    write_zonemap(_spark_of(), str(d), ["k", "s", "ts", "v"], zm)
    return str(d), zm


def _spark_of():
    from etl_spark.session import get_spark

    return get_spark(app_name="etl_spark-tests")


def _full_filter(spark, table, col, lo, hi):
    df = spark.read.parquet(table)
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= F.lit(lo))
    if hi is not None:
        pred = pred & (F.col(col) <= F.lit(hi))
    return sorted(tuple(r) for r in df.filter(pred).collect())


@pytest.mark.parametrize(
    "col,lo,hi,max_kept",
    [
        ("k", 150, 349, 3),  # spans files 1-3
        ("k", 700, None, 2),  # open upper: file 7 (+ null file kept)
        ("k", 5000, 6000, 1),  # outside every range: only null file kept
        ("s", "000150", "000349", 3),
        ("v", 50.0, 99.5, 2),
        ("ts", dt.datetime(2024, 1, 1, 2, 30), dt.datetime(2024, 1, 1, 5, 49), 4),
    ],
)
def test_pruned_scan_identical_and_skips(spark, table_and_map, col, lo, hi, max_kept):
    table, zm = table_and_map
    kept, total = pruned_files(spark, zm, col, lo, hi)
    assert total == N_FILES + 1
    # the all-null file is kept for k (no usable stats evidence rule
    # does not apply — it HAS stats with no min/max -> kept), so allow
    # one extra
    assert len(kept) <= max_kept + 1
    got = sorted(
        tuple(r) for r in zonemap_scan(spark, table, zm, col, lo, hi).collect()
    )
    assert got == _full_filter(spark, table, col, lo, hi)


def test_outside_range_empty_and_schema(spark, table_and_map):
    table, zm = table_and_map
    df = zonemap_scan(spark, table, zm, "k", 10**9, None)
    assert df.columns == ["k", "s", "ts", "v"]
    assert df.count() == 0


def test_null_file_never_wrongly_matches(spark, table_and_map):
    # rows with NULL k can never satisfy a range predicate; keeping
    # the file is safe because the residual filter drops them
    table, zm = table_and_map
    got = zonemap_scan(spark, table, zm, "k", 0, 10**9).count()
    assert got == N_FILES * ROWS_PER_FILE  # nulls excluded


def test_zonemap_is_metadata_only_and_small(spark, table_and_map):
    table, zm = table_and_map
    from etl_spark.sources.txlog import TxTable

    rows = TxTable(zm).read(spark)
    assert rows.count() == (N_FILES + 1) * 4  # one row per (file, col)
    stats = {
        (r["path"].rsplit("/", 1)[-1], r["col"]): r
        for r in rows.collect()
    }
    r = stats[("part-2.parquet", "k")]
    assert (r["min_num"], r["max_num"]) == (200.0, 299.0)
    rn = stats[("part-nulls.parquet", "k")]
    assert not rn["has_stats"] or rn["min_num"] is None
    assert rn["n_rows"] == 5


def test_clustered_layout_prunes_minimally(spark, tmp_path):
    """write_clustered + zone map: a narrow range predicate touches
    ~1 file of 8; the same data written UNCLUSTERED (hash-shuffled)
    keeps every file. Results identical either way."""
    from etl_spark.sources.zonemap import write_clustered

    df = spark.range(0, 8000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    clustered = str(tmp_path / "clustered")
    write_clustered(df, clustered, "k", 8)
    scattered = str(tmp_path / "scattered")
    df.repartition(8).write.parquet(scattered)

    zm_c = str(tmp_path / "zm_c")
    zm_s = str(tmp_path / "zm_s")
    write_zonemap(spark, clustered, ["k"], zm_c)
    write_zonemap(spark, scattered, ["k"], zm_s)

    kept_c, total_c = pruned_files(spark, zm_c, "k", 4000, 4099)
    kept_s, total_s = pruned_files(spark, zm_s, "k", 4000, 4099)
    assert total_c == total_s == 8
    assert len(kept_c) <= 2  # range fits one cluster (± a boundary)
    assert len(kept_s) == 8  # hash layout: every file overlaps

    got = sorted(
        tuple(r)
        for r in zonemap_scan(spark, clustered, zm_c, "k", 4000, 4099).collect()
    )
    want = sorted(
        tuple(r)
        for r in zonemap_scan(spark, scattered, zm_s, "k", 4000, 4099).collect()
    )
    assert got == want and len(got) == 100


def test_zonemap_refresh_incremental(spark, tmp_path):
    """refresh reads footers only for NEW files, drops rows for
    removed files, and the refreshed map prunes identically to a
    from-scratch rebuild."""
    import os

    from etl_spark.sources.zonemap import zonemap_refresh

    d = tmp_path / "t"
    d.mkdir()
    for i in range(3):
        ks = list(range(i * 100, (i + 1) * 100))
        pq.write_table(pa.table({"k": pa.array(ks, pa.int64())}), str(d / f"f{i}.parquet"))
    zm = str(tmp_path / "zm")
    a, r = zonemap_refresh(spark, str(d), ["k"], zm)
    assert (a, r) == (3, 0)  # initial full build
    # add one file, remove one
    pq.write_table(
        pa.table({"k": pa.array(list(range(300, 400)), pa.int64())}), str(d / "f3.parquet")
    )
    os.remove(str(d / "f0.parquet"))
    a, r = zonemap_refresh(spark, str(d), ["k"], zm)
    assert (a, r) == (1, 1)
    kept, total = pruned_files(spark, zm, "k", 320, 330)
    assert total == 3 and len(kept) == 1 and kept[0].endswith("f3.parquet")
    got = sorted(r["k"] for r in zonemap_scan(spark, str(d), zm, "k", 150, 349).collect())
    assert got == list(range(150, 350))


def test_stale_map_never_skips_new_files(spark, tmp_path):
    """A file that landed AFTER the map was built is always kept —
    a stale map costs IO, never rows (the review finding: pruning on
    absent evidence is corruption)."""
    d = tmp_path / "t2"
    d.mkdir()
    pq.write_table(pa.table({"k": pa.array(range(100), pa.int64())}), str(d / "a.parquet"))
    zm = str(tmp_path / "zm2")
    write_zonemap(spark, str(d), ["k"], zm)
    # new file lands, map NOT refreshed
    pq.write_table(
        pa.table({"k": pa.array(range(500, 600), pa.int64())}), str(d / "b.parquet")
    )
    got = sorted(r["k"] for r in zonemap_scan(spark, str(d), zm, "k", 550, 560).collect())
    assert got == list(range(550, 561))


def test_unbuilt_column_raises(spark, table_and_map):
    table, zm = table_and_map
    with pytest.raises(ValueError, match="no statistics for column"):
        pruned_files(spark, zm, "not_a_col", 0, 1)


def _fail_log_claim(*_a, **_k):
    raise OSError("injected failure at the log claim")


def _one_file_map(spark, tmp_path, name):
    """A table with one 100-row file and its refreshed zone map."""
    from etl_spark.sources.zonemap import zonemap_refresh

    d = tmp_path / name
    d.mkdir()
    pq.write_table(pa.table({"k": pa.array(range(100), pa.int64())}), str(d / "a.parquet"))
    zm = str(tmp_path / f"zm_{name}")
    zonemap_refresh(spark, str(d), ["k"], zm)
    return d, zm


def test_crash_selfheal_adopts_tmp(spark, tmp_path, monkeypatch):
    """A refresh that dies at the log claim, after its data write,
    leaves the previous map live: readers get the same answer, the
    unlinked data dir is visible to no reader, and the next refresh
    commits the change."""
    from etl_spark.sources.txlog import TxTable
    from etl_spark.sources.zonemap import zonemap_refresh

    d, zm = _one_file_map(spark, tmp_path, "t3")
    before = pruned_files(spark, zm, "k", 150, 160)
    live = TxTable(zm).live_dirs()
    pq.write_table(
        pa.table({"k": pa.array(range(100, 200), pa.int64())}), str(d / "b.parquet")
    )
    with monkeypatch.context() as m:
        m.setattr("etl_spark.sources.txlog.os.link", _fail_log_claim)
        with pytest.raises(OSError, match="injected"):
            zonemap_refresh(spark, str(d), ["k"], zm)
    assert len(os.listdir(os.path.join(zm, "data"))) == 2  # the orphan is on disk
    assert pruned_files(spark, zm, "k", 150, 160) == before
    assert TxTable(zm).live_dirs() == live
    assert all("/" + live[0] + "/" in f for f in TxTable(zm).read(spark).inputFiles())
    assert zonemap_refresh(spark, str(d), ["k"], zm) == (1, 0)
    kept, total = pruned_files(spark, zm, "k", 150, 160)
    assert total == 2 and len(kept) == 1 and kept[0].endswith("b.parquet")


def test_multi_predicate_conjunction_prunes_more(spark, table_and_map):
    from etl_spark.sources.zonemap import pruned_files, zonemap_scan_multi

    table, zm = table_and_map
    # k in files 1-3; v range confines to file 2 only: the
    # conjunction must keep fewer files than either predicate alone
    preds = [("k", 150, 349), ("v", 100.0, 140.0)]
    kept_k, _ = pruned_files(spark, zm, "k", 150, 349)
    got = sorted(
        tuple(r) for r in zonemap_scan_multi(spark, table, zm, preds).collect()
    )
    df = spark.read.parquet(table)
    want = sorted(
        tuple(r)
        for r in df.filter(
            (F.col("k") >= 150) & (F.col("k") <= 349)
            & (F.col("v") >= 100.0) & (F.col("v") <= 140.0)
        ).collect()
    )
    assert got == want and got
    # structural: the files the multi-scan actually READS are a subset
    # of BOTH single-predicate keep-sets, and strictly fewer than the
    # k-only set (the conjunction must intersect, not union)
    from etl_spark.sources.zonemap import pruned_files as pf

    kept_v, _ = pf(spark, zm, "v", 100.0, 140.0)
    read_files = set(zonemap_scan_multi(spark, table, zm, preds).inputFiles())
    assert read_files <= set(kept_k) and read_files <= set(kept_v)
    assert len(read_files) < len(kept_k)


def test_multi_scan_empty_predicates_full_table(spark, table_and_map):
    from etl_spark.sources.zonemap import zonemap_scan_multi

    table, zm = table_and_map
    full = spark.read.parquet(table).count()
    assert zonemap_scan_multi(spark, table, zm, []).count() == full


def test_crash_selfheal_restores_bak(spark, tmp_path, monkeypatch):
    """A refresh dropping a removed file that dies at the log claim
    keeps the previous map (the removed file still mapped, so the scan
    still keeps it); vacuum reclaims the unlinked data dir, and the
    next refresh drops the file."""
    from etl_spark.sources.txlog import TxTable
    from etl_spark.sources.zonemap import zonemap_refresh

    d, zm = _one_file_map(spark, tmp_path, "t4")
    pq.write_table(
        pa.table({"k": pa.array(range(100, 200), pa.int64())}), str(d / "b.parquet")
    )
    zonemap_refresh(spark, str(d), ["k"], zm)
    before = pruned_files(spark, zm, "k", 0, 10)
    versions = TxTable(zm).latest_version()
    os.remove(str(d / "a.parquet"))
    with monkeypatch.context() as m:
        m.setattr("etl_spark.sources.txlog.os.link", _fail_log_claim)
        with pytest.raises(OSError, match="injected"):
            zonemap_refresh(spark, str(d), ["k"], zm)
    assert pruned_files(spark, zm, "k", 0, 10) == before
    assert TxTable(zm).latest_version() == versions
    t = TxTable(zm)
    orphans = set(os.listdir(os.path.join(zm, "data"))) - {
        os.path.basename(p) for v in (versions - 1, versions) for p in t.live_dirs(v)
    }
    assert len(orphans) == 1
    assert set(t.vacuum(retain_versions=2, grace_seconds=0)) >= {
        f"data/{o}" for o in orphans
    }
    assert zonemap_refresh(spark, str(d), ["k"], zm) == (0, 1)
    kept, total = pruned_files(spark, zm, "k", 0, 10)
    assert total == 1 and kept == []


def test_refresh_swap_never_hides_map(spark, tmp_path, monkeypatch):
    """The map stays readable through a refresh that dies at the log
    claim and through the one after it, and no refresh leaves a
    sibling directory next to the map."""
    from etl_spark.sources.zonemap import zonemap_refresh

    d, zm = _one_file_map(spark, tmp_path, "t5")
    pq.write_table(
        pa.table({"k": pa.array(range(100, 200), pa.int64())}),
        str(d / "b.parquet"),
    )
    with monkeypatch.context() as m:
        m.setattr("etl_spark.sources.txlog.os.link", _fail_log_claim)
        with pytest.raises(OSError, match="injected"):
            zonemap_refresh(spark, str(d), ["k"], zm)
    assert pruned_files(spark, zm, "k", 0, 199)[1] == 1
    added, removed = zonemap_refresh(spark, str(d), ["k"], zm)
    assert (added, removed) == (1, 0)
    assert pruned_files(spark, zm, "k", 0, 199)[1] == 2
    assert sorted(os.listdir(tmp_path)) == ["t5", "zm_t5"]


def test_partitioned_table_keeps_partition_columns(spark, tmp_path):
    """Hive-partitioned table, zone map on a NON-partition column:
    the pruned scan must keep the partition-directory column and stay
    row/schema-identical to the full scan (ADVICE r9 basePath fix)."""
    from etl_spark.sources.zonemap import zonemap_scan

    d = str(tmp_path / "pt")
    df = spark.range(400).select(
        (F.col("id") % 4).alias("src"), F.col("id").alias("k")
    )
    df.write.partitionBy("src").parquet(d)
    zm = str(tmp_path / "zm_pt")
    write_zonemap(spark, d, ["k"], zm)
    got = zonemap_scan(spark, d, zm, "k", 10, 50)
    full = spark.read.parquet(d).filter(
        (F.col("k") >= 10) & (F.col("k") <= 50)
    )
    assert sorted(got.columns) == sorted(full.columns)
    assert sorted((r.k, int(r.src)) for r in got.collect()) == sorted(
        (r.k, int(r.src)) for r in full.collect()
    )


def test_zorder_prunes_on_every_clustered_column(spark, tmp_path):
    """Z-ORDER (r14): linear clustering on column a makes the zone
    map maximally selective on a and USELESS on an uncorrelated b
    (every file's b-range spans the domain); the Morton layout
    spends the budget evenly — a narrow range on EITHER column
    prunes to ~sqrt(n_files) of the 16 files. Rows identical to the
    source under every layout."""
    from etl_spark.sources.zonemap import (
        write_clustered,
        write_zordered,
        zonemap_scan_multi,
    )

    n = 32_000
    # a and b uncorrelated (b is a bit-reversal-ish scramble of id)
    df = spark.range(0, n).select(
        F.col("id").alias("a"),
        ((F.col("id") * 7919) % n).alias("b"),
        (F.col("id") % 13).alias("payload"),
    )
    lin = str(tmp_path / "linear")
    write_clustered(df, lin, "a", 16)
    zor = str(tmp_path / "zordered")
    write_zordered(df, zor, ["a", "b"], 16)

    zm_l, zm_z = str(tmp_path / "zm_l"), str(tmp_path / "zm_z")
    write_zonemap(spark, lin, ["a", "b"], zm_l)
    write_zonemap(spark, zor, ["a", "b"], zm_z)

    # ~3% range on each column
    lo, hi = 4000, 4999
    kept_l_a, total = pruned_files(spark, zm_l, "a", lo, hi)
    kept_l_b, _ = pruned_files(spark, zm_l, "b", lo, hi)
    kept_z_a, _ = pruned_files(spark, zm_z, "a", lo, hi)
    kept_z_b, _ = pruned_files(spark, zm_z, "b", lo, hi)
    assert total == 16
    assert len(kept_l_a) <= 2           # linear: perfect on a...
    assert len(kept_l_b) == 16          # ...and blind on b
    # z-order: BOTH columns prune to around sqrt(16) files
    assert len(kept_z_a) <= 8, kept_z_a
    assert len(kept_z_b) <= 8, kept_z_b

    # pruned scans stay row-identical to a full filtered scan
    for path, zm in ((lin, zm_l), (zor, zm_z)):
        for col in ("a", "b"):
            got = sorted(
                tuple(r)
                for r in zonemap_scan_multi(
                    spark, path, zm, [(col, lo, hi)]
                ).collect()
            )
            want = sorted(
                tuple(r)
                for r in df.filter(
                    (F.col(col) >= lo) & (F.col(col) <= hi)
                ).collect()
            )
            assert got == want and len(got) == 1000


def test_zorder_rows_and_nulls_roundtrip(spark, tmp_path):
    """Z-ordering is a LAYOUT change only: the written table holds
    exactly the source rows (dups included), NULL cluster keys land
    in the lowest cell rather than erroring, and the helper column
    never leaks into the schema."""
    from etl_spark.sources.zonemap import write_zordered

    df = spark.range(0, 500).select(
        F.when(F.col("id") % 50 == 0, None).otherwise(F.col("id")).alias("a"),
        (F.col("id") % 7).alias("b"),
    ).unionAll(spark.range(0, 10).select(F.col("id").alias("a"), F.lit(0).alias("b")))
    out = str(tmp_path / "z")
    write_zordered(df, out, ["a", "b"], 4)
    back = spark.read.parquet(out)
    assert back.columns == ["a", "b"]
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    assert sorted(map(tuple, back.collect()), key=key) == sorted(
        map(tuple, df.collect()), key=key
    )


def test_txlog_optimize_zorder(spark, tmp_path):
    """TxTable.compact(cluster_by=...) — OPTIMIZE ZORDER BY as a CAS
    commit: same rows in a new version, old version still
    time-travelable, and a zone map refreshed on the new snapshot
    prunes on BOTH clustered columns where the fragmented pre-compact
    layout pruned on neither."""
    from etl_spark.sources.txlog import TxTable

    n = 16_000
    full = spark.range(0, n).select(
        F.col("id").alias("a"), ((F.col("id") * 7919) % n).alias("b")
    )
    # fragmented ingest: 8 hash-scattered appends (streaming shape)
    t = TxTable.create(str(tmp_path / "t"), full.filter(F.col("a") % 8 == 0))
    for r in range(1, 8):
        t.append(full.filter(F.col("a") % 8 == r).repartition(2))
    pre_version = t.latest_version()

    zm = str(tmp_path / "zm")

    v = t.compact(spark, target_files=9, cluster_by=["a", "b"])
    assert v == pre_version + 1

    # build the map over the LIVE snapshot's files via the read path
    from etl_spark.sources.zonemap import _footer_stats, pruned_files as pf

    files = t.read(spark).inputFiles()
    fdf = spark.createDataFrame([(f,) for f in files], "path string")
    TxTable(zm).overwrite(_footer_stats(fdf, ["a", "b"]))

    lo, hi = 2000, 2499
    kept_a, total = pf(spark, zm, "a", lo, hi)
    kept_b, _ = pf(spark, zm, "b", lo, hi)
    assert total == 9
    assert len(kept_a) <= 5 and len(kept_b) <= 5, (len(kept_a), len(kept_b))

    # rows and history intact
    assert t.read(spark).count() == n
    assert t.read(spark, version=pre_version).count() == n
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == sorted(tuple(r) for r in full.collect())


def test_zorder_column_matches_python_morton(spark):
    """zorder_column vs a from-scratch Python Morton replay: same
    quantile splits => bit-identical z-values for every row
    (bucketing by counting splits below, interleave MSB-agnostic bit
    i of column j at position i*d + (d-1-j)). The pure-Python side
    recomputes buckets from the SAME split points the Column used
    (approxQuantile at err 0.001 is deterministic for a fixed input),
    so the assert isolates the interleave arithmetic."""
    from etl_spark.sources.zonemap import zorder_column

    bits = 4
    rows = [(float(i % 37), float((i * 13) % 29), i) for i in range(400)]
    df = spark.createDataFrame(rows, "a double, b double, rid long")
    z = df.select("rid", zorder_column(df, ["a", "b"], bits=bits).alias("z"))
    got = {r.rid: r.z for r in z.collect()}

    nb = 1 << bits
    probs = [k / nb for k in range(1, nb)]
    splits = {c: df.approxQuantile(c, probs, 0.001) for c in ("a", "b")}

    def bucket(v, ss):
        return sum(1 for s in ss if v > s)

    d = 2
    for a, b, rid in rows:
        zv = 0
        for j, (v, c) in enumerate(((a, "a"), (b, "b"))):
            bk = bucket(v, splits[c])
            for i in range(bits):
                zv += ((bk >> i) & 1) << (i * d + (d - 1 - j))
        assert got[rid] == zv, (rid, got[rid], zv)


def test_compact_table_cluster_by(spark, tmp_path):
    """maintenance.compact_table(cluster_by=...): the managed-table
    OPTIMIZE ZORDER — fragmented unpartitioned table bin-packs into a
    z-ordered layout whose zone map prunes on both columns; rows
    unchanged; partitioned tables refuse cluster_by loudly."""
    import pytest as _pytest

    from etl_spark.maintenance import compact_table
    from etl_spark.sources.zonemap import write_zonemap

    n = 1_500_000  # ~24 MB of (a, b) longs => several 2 MB output files
    src = spark.range(0, n).select(
        F.col("id").alias("a"), ((F.col("id") * 7919) % n).alias("b")
    )
    tbl = "zcompact_t"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    src.repartition(24).write.saveAsTable(tbl)
    stats = compact_table(
        spark, tbl, target_file_mb=2, min_files=2, cluster_by=["a", "b"]
    )
    assert 1 < stats["files_after"] < stats["files_before"]
    back = spark.table(tbl)
    # row identity via count + per-column checksums (3M-tuple driver
    # collects would dominate the test for no extra signal)
    want = src.agg(
        F.count(F.lit(1)), F.sum("a"), F.sum("b"),
        F.sum(F.hash("a", "b").cast("bigint")),
    ).first()
    assert back.agg(
        F.count(F.lit(1)), F.sum("a"), F.sum("b"),
        F.sum(F.hash("a", "b").cast("bigint")),
    ).first() == want

    from etl_spark.maintenance import table_location

    zm = str(tmp_path / "zm")
    write_zonemap(spark, table_location(spark, tbl), ["a", "b"], zm)
    total = stats["files_after"]
    if total > 1:
        kept_a, t = pruned_files(spark, zm, "a", 0, n // 10)
        kept_b, _ = pruned_files(spark, zm, "b", 0, n // 10)
        assert t == total
        assert len(kept_a) < total and len(kept_b) < total

    ptbl = "zcompact_p"
    spark.sql(f"DROP TABLE IF EXISTS {ptbl}")
    src.withColumn("p", F.col("a") % 2).write.partitionBy("p").saveAsTable(ptbl)
    with _pytest.raises(ValueError, match="unpartitioned"):
        compact_table(spark, ptbl, cluster_by=["a"])
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {ptbl}")


def test_zorder_positions_past_31_no_int_wrap(spark):
    """ADVICE r14: the interleave shift previously ran on an INT
    bucket, so Java's mod-32 shift semantics made position 31 produce
    Integer.MIN_VALUE and positions >=32 silently wrap — exactly the
    default bits=6 with d>=6 columns (top position 35). z-values must
    match the pure-Python interleave bit-for-bit, stay nonnegative,
    and genuinely set bits past 2^31."""
    from etl_spark.sources.zonemap import zorder_column

    bits, d = 6, 6
    cols = [f"c{j}" for j in range(d)]
    rows = [
        tuple(float((i * (3 + j)) % 97) for j in range(d)) + (i,)
        for i in range(300)
    ]
    schema = ", ".join(f"{c} double" for c in cols) + ", rid long"
    df = spark.createDataFrame(rows, schema)
    z = df.select("rid", zorder_column(df, cols, bits=bits).alias("z"))
    got = {r.rid: r.z for r in z.collect()}

    nb = 1 << bits
    probs = [k / nb for k in range(1, nb)]
    splits = {c: df.approxQuantile(c, probs, 0.001) for c in cols}

    def bucket(v, ss):
        return sum(1 for s in ss if v > s)

    for row in rows:
        rid = row[-1]
        zv = 0
        for j, c in enumerate(cols):
            bk = bucket(row[j], splits[c])
            for i in range(bits):
                zv += ((bk >> i) & 1) << (i * d + (d - 1 - j))
        assert got[rid] == zv, (rid, got[rid], zv)
        assert got[rid] >= 0
    # at least one row genuinely exercises a position past bit 31
    assert max(got.values()) >= (1 << 31), max(got.values())


def test_zorder_raises_when_positions_exceed_bigint(spark):
    """bits * d > 63 cannot fit a signed BIGINT's positions — raise
    instead of silently wrapping mod 64."""
    import pytest as _pytest

    from etl_spark.sources.zonemap import zorder_column

    df = spark.createDataFrame(
        [(1.0,) * 7], ", ".join(f"c{i} double" for i in range(7))
    )
    with _pytest.raises(ValueError, match="63 interleaved"):
        zorder_column(df, [f"c{i}" for i in range(7)], bits=10)
