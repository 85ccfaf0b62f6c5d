"""File-level Bloom index (sources/bloomindex.py). The airtight part
mirrors the zonemap contract: NO false negatives ever (a file holding
the value is always kept), pruned scan == full scan + equality filter
on every shape, unindexed files are never skipped, and false-positive
volume stays near the designed rate."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_spark.sources.bloomindex import (
    bloom_pruned_files,
    bloom_scan,
    write_bloom_index,
)

N_FILES = 8
PER_FILE = 500


@pytest.fixture(scope="module")
def table_and_index(tmp_path_factory):
    """8 files with DISJOINT id domains (file i owns
    [i*500, i*500+499]) plus a string key and a NULL-bearing column —
    point lookups have exactly one true home file."""
    d = tmp_path_factory.mktemp("bloom_table")
    for i in range(N_FILES):
        ids = list(range(i * PER_FILE, (i + 1) * PER_FILE))
        pq.write_table(
            pa.table(
                {
                    "uid": pa.array(ids, pa.int64()),
                    "name": pa.array([f"user-{v:07d}" for v in ids]),
                    "maybe": pa.array(
                        [None if v % 10 == 0 else v for v in ids], pa.int64()
                    ),
                }
            ),
            str(d / f"part-{i}.parquet"),
        )
    idx = str(tmp_path_factory.mktemp("bloom_idx") / "bloom")
    from etl_spark.session import get_spark

    spark = get_spark(app_name="etl_spark-tests")
    write_bloom_index(spark, str(d), ["uid", "name", "maybe"], idx)
    return str(d), idx


def test_no_false_negatives_and_scan_identity(spark, table_and_index):
    """Every probed value's true home file is kept, and the pruned
    scan returns exactly the full filtered rows — across int and
    string columns and across every file."""
    table, idx = table_and_index
    for v in (0, 499, 500, 1777, 2500, 3999):
        kept, total = bloom_pruned_files(spark, idx, "uid", v)
        assert total == N_FILES
        home = f"part-{v // PER_FILE}.parquet"
        assert any(p.endswith(home) for p in kept), (v, kept)
        got = sorted(
            tuple(r) for r in bloom_scan(spark, table, idx, "uid", v).collect()
        )
        want = sorted(
            tuple(r)
            for r in spark.read.parquet(table)
            .filter(F.col("uid") == v)
            .collect()
        )
        assert got == want and len(got) == 1
    got = bloom_scan(spark, table, idx, "name", "user-0001777").collect()
    assert len(got) == 1 and got[0]["uid"] == 1777


def test_point_lookup_skips_most_files(spark, table_and_index):
    """The point of the index: with disjoint per-file domains, a
    lookup keeps ~1 of 8 files (false positives allowed but must stay
    near the m/k design rate, not defeat the skipping)."""
    _, idx = table_and_index
    kept_counts = [
        len(bloom_pruned_files(spark, idx, "uid", v)[0])
        for v in range(100, 4000, 250)
    ]
    assert max(kept_counts) <= 3  # 1 true + rare fp
    assert sum(kept_counts) / len(kept_counts) < 1.5


def test_absent_value_prunes_everything(spark, table_and_index):
    """A value in no file keeps (almost) no files and the scan is
    empty with the table schema intact."""
    table, idx = table_and_index
    kept, _ = bloom_pruned_files(spark, idx, "uid", 10_000_019)
    assert len(kept) <= 1  # fp slack
    df = bloom_scan(spark, table, idx, "uid", 10_000_019)
    assert df.columns == ["uid", "name", "maybe"]
    assert df.count() == 0


def test_nulls_build_and_probe_rules(spark, table_and_index):
    """NULL rows contribute no bits (equality never matches NULL);
    probing a non-null value on the null-bearing column still finds
    its home file; probing NULL itself refuses loudly."""
    table, idx = table_and_index
    got = bloom_scan(spark, table, idx, "maybe", 1777).collect()
    assert len(got) == 1 and got[0]["uid"] == 1777
    with pytest.raises(ValueError, match="NULL"):
        bloom_pruned_files(spark, idx, "maybe", None)


def test_stale_index_never_skips_new_files(spark, table_and_index, tmp_path):
    """A file that landed after the index build is kept
    unconditionally — staleness costs IO, never rows (the zonemap
    rule)."""
    import shutil

    table, idx = table_and_index
    d2 = tmp_path / "t2"
    shutil.copytree(table, d2)
    ids = list(range(100_000, 100_100))
    pq.write_table(
        pa.table(
            {
                "uid": pa.array(ids, pa.int64()),
                "name": pa.array([f"user-{v:07d}" for v in ids]),
                "maybe": pa.array(ids, pa.int64()),
            }
        ),
        str(d2 / "late.parquet"),
    )
    got = bloom_scan(spark, str(d2), idx, "uid", 100_050).collect()
    assert len(got) == 1 and got[0]["uid"] == 100_050


def test_unbuilt_column_raises(spark, table_and_index):
    _, idx = table_and_index
    with pytest.raises(ValueError, match="no rows for column"):
        bloom_pruned_files(spark, idx, "nope", 1)


def test_dtype_recorded_probe_casts(spark, table_and_index):
    """The probe casts its literal to the dtype the index recorded:
    probing an int column with the python int works even though the
    natural lit() type differs from the stored column type in edge
    cases; a string column probed with a number matches nothing
    rather than everything."""
    table, idx = table_and_index
    kept_str, _ = bloom_pruned_files(spark, idx, "name", 1777)
    # cast("string") of 1777 is "1777", present in no file
    assert len(kept_str) <= 1
    assert bloom_scan(spark, table, idx, "name", 1777).count() == 0


def test_bloom_refresh_incremental(spark, tmp_path):
    """bloom_refresh scans only NEW files, drops rows for removed
    files, and the refreshed index prunes identically to a
    from-scratch rebuild."""
    import os

    from etl_spark.sources.bloomindex import bloom_refresh

    d = tmp_path / "t"
    d.mkdir()
    for i in range(3):
        ids = list(range(i * 100, (i + 1) * 100))
        pq.write_table(
            pa.table({"uid": pa.array(ids, pa.int64())}),
            str(d / f"f{i}.parquet"),
        )
    idx = str(tmp_path / "bidx")
    a, r = bloom_refresh(spark, str(d), ["uid"], idx)
    assert (a, r) == (3, 0)  # initial full build
    pq.write_table(
        pa.table({"uid": pa.array(list(range(300, 400)), pa.int64())}),
        str(d / "f3.parquet"),
    )
    os.remove(str(d / "f0.parquet"))
    a, r = bloom_refresh(spark, str(d), ["uid"], idx)
    assert (a, r) == (1, 1)
    kept, total = bloom_pruned_files(spark, idx, "uid", 333)
    assert total == 3
    assert any(p.endswith("f3.parquet") for p in kept) and len(kept) <= 2
    # removed file's rows are gone from the index
    kept0, _ = bloom_pruned_files(spark, idx, "uid", 50)
    assert not any(p.endswith("f0.parquet") for p in kept0)
    got = sorted(
        r["uid"] for r in bloom_scan(spark, str(d), idx, "uid", 333).collect()
    )
    assert got == [333]


@pytest.mark.slow
def test_bloom_no_false_negatives_hypothesis(spark, tmp_path):
    """Property: for RANDOM corpora (ids, strings, dup values across
    files, tiny m to force collisions) every present value's home
    files are ALL kept — no false negative under any seed. Runs a
    handful of generated corpora; fixed seeds keep it deterministic."""
    import random

    from etl_spark.sources.bloomindex import write_bloom_index

    for seed in (7, 23, 99):
        rnd = random.Random(seed)
        d = tmp_path / f"h{seed}"
        d.mkdir()
        universe = [rnd.randrange(0, 10_000) for _ in range(600)]
        homes: dict[int, set[str]] = {}
        for i in range(4):
            vals = [rnd.choice(universe) for _ in range(150)]
            name = f"g{i}.parquet"
            pq.write_table(
                pa.table({"v": pa.array(vals, pa.int64())}), str(d / name)
            )
            for v in vals:
                homes.setdefault(v, set()).add(name)
        idx = str(tmp_path / f"hidx{seed}")
        # m small enough that false positives WILL occur — the
        # invariant under test is the absence of false NEGATIVES
        write_bloom_index(spark, str(d), ["v"], idx, m_bits=512, k=3)
        probe = rnd.sample(sorted(homes), 25)
        for v in probe:
            kept, _ = bloom_pruned_files(spark, idx, "v", v)
            kept_names = {p.rsplit("/", 1)[-1] for p in kept}
            assert homes[v] <= kept_names, (seed, v, homes[v], kept_names)


def test_mixed_dtype_generations_probe_both(spark, tmp_path):
    """ADVICE r14 (medium): a legacy index holding rows from two build
    generations whose recorded dtypes differ (the table's column type
    evolved between refreshes before refresh rejected that) must be
    probed once PER recorded dtype — xxhash64 of int vs bigint differ,
    so casting the literal to a single recorded dtype computes wrong
    bit positions for the other generation and could skip a file that
    contains the value. Both generations' home files must be kept."""
    from etl_spark.sources.bloomindex import build_bloom_index

    d32, d64 = tmp_path / "g32", tmp_path / "g64"
    d32.mkdir(), d64.mkdir()
    pq.write_table(
        pa.table({"uid": pa.array([1, 2, 3, 777], pa.int32())}),
        str(d32 / "old.parquet"),
    )
    pq.write_table(
        pa.table({"uid": pa.array([777, 900, 901], pa.int64())}),
        str(d64 / "new.parquet"),
    )
    from etl_spark.sources.txlog import TxTable

    merged = str(tmp_path / "merged_idx")
    TxTable(merged).overwrite(
        build_bloom_index(spark, str(d32), ["uid"]).unionByName(
            build_bloom_index(spark, str(d64), ["uid"])
        )
    )
    idx = TxTable(merged).read(spark)
    assert idx.select("dtype").distinct().count() == 2  # genuinely mixed
    kept, total = bloom_pruned_files(spark, merged, "uid", 777)
    names = {p.rsplit("/", 1)[-1] for p in kept}
    assert total == 2
    assert {"old.parquet", "new.parquet"} <= names, names
    # a value present only in one generation keeps that home file
    kept900, _ = bloom_pruned_files(spark, merged, "uid", 900)
    assert any(p.endswith("new.parquet") for p in kept900)
    kept3, _ = bloom_pruned_files(spark, merged, "uid", 3)
    assert any(p.endswith("old.parquet") for p in kept3)


def test_bloom_refresh_rejects_dtype_change(spark, tmp_path):
    """bloom_refresh refuses to append rows hashed under a different
    physical type than the retained rows (the geometry-change rule
    applied to dtype) — a column type change requires a rebuild."""
    from etl_spark.sources.bloomindex import bloom_refresh

    d = tmp_path / "t"
    d.mkdir()
    pq.write_table(
        pa.table({"uid": pa.array([1, 2, 3], pa.int64())}),
        str(d / "f0.parquet"),
    )
    idx = str(tmp_path / "bidx")
    bloom_refresh(spark, str(d), ["uid"], idx)
    pq.write_table(
        pa.table({"uid": pa.array([10, 11], pa.int32())}),
        str(d / "f1.parquet"),
    )
    with pytest.raises(ValueError, match="dtype changed"):
        bloom_refresh(spark, str(d), ["uid"], idx)
