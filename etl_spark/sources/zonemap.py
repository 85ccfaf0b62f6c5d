"""Zone maps — per-file min/max statistics enabling FILE-LEVEL data
skipping for range predicates on unpartitioned columns (Moerkotte's
small materialized aggregates, VLDB 1998; the design behind Delta/
Iceberg file skipping and Snowflake pruning).

Reference relevance: the reference scans whole SQLite tables and
relies on B-tree indexes (web_scheduler.py's per-query SELECTs); at
100 TB there is no B-tree — the unit of skipping is the FILE, and a
table range-partitioned by write order (timestamps, monotonically
assigned keys) is prunable only if something records each file's
value range. Directory partitioning handles ONE coarse column;
zone maps cover the rest at file granularity with a metadata table
thousands of times smaller than the data.

Build cost: NO data scan — parquet footers already carry per-row-group
min/max/null statistics, so building the map reads only metadata,
distributed across executors with mapInPandas over the file list.

Storage: the map is a ``TxTable`` (sources/txlog.py). A full build is
an ``overwrite`` commit, a refresh a ``rewrite`` of the snapshot it
read, and every reader resolves the committed snapshot through the
log, so a reader racing a refresh sees one whole map, never a missing
directory.

Skipping contract (the part that must be airtight):
- stats min/max are over NON-NULL values: rows with NULL in the
  predicate column can never satisfy a range predicate, so files
  whose ranges miss [lo, hi] are skippable regardless of their nulls;
- a file with no stats for the column (all-null row groups, or a
  writer that omitted statistics) is NEVER skipped — absence of
  evidence keeps the file;
- the pruned scan re-applies the exact predicate, so false KEEPS cost
  IO only, and false SKIPS cannot happen (asserted: pruned scan ==
  full scan + filter on every tested shape).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.sources.txlog import TxTable
from etl_spark.tables import scan_parquet

_ZM_SCHEMA = (
    "path string, col string, min_num double, max_num double, "
    "min_str string, max_str string, n_nulls long, n_rows long, has_stats boolean"
)


def _local_path(p: str) -> str:
    return p[len("file:") :] if p.startswith("file:") else p


def build_zonemap(spark: SparkSession, table_path: str, cols: list[str]) -> DataFrame:
    """Per-(file, col) statistics from parquet FOOTERS only — no data
    scan. Executor-distributed: the file list becomes a DataFrame and
    each task reads its files' metadata. Numeric/temporal stats land
    in min_num/max_num (timestamps as epoch micros), strings in
    min_str/max_str."""
    return _file_stats(spark, spark.read.parquet(table_path).inputFiles(), cols)


def _file_stats(spark: SparkSession, files: list[str], cols: list[str]) -> DataFrame:
    """``_footer_stats`` over an explicit file list, one task per file
    up to the default parallelism."""
    fdf = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        max(1, min(len(files), spark.sparkContext.defaultParallelism))
    )
    return _footer_stats(fdf, cols)


def _footer_stats(fdf: DataFrame, cols: list[str]) -> DataFrame:
    """mapInPandas footer extraction over a (path) DataFrame."""
    want = list(cols)

    def _footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import datetime as dt
        import decimal

        import pyarrow.parquet as pq

        def _num(v):
            if isinstance(v, bool):
                return float(v)
            if isinstance(v, (int, float, decimal.Decimal)):
                return float(v)
            if isinstance(v, dt.datetime):
                return float(
                    int(v.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
                )
            if isinstance(v, dt.date):
                return float(
                    int(
                        dt.datetime(
                            v.year, v.month, v.day, tzinfo=dt.timezone.utc
                        ).timestamp()
                        * 1_000_000
                    )
                )
            return None

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq.ParquetFile(_local_path(p)).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                for c in want:
                    if c not in idx:
                        rows.append((p, c, None, None, None, None, 0, md.num_rows, False))
                        continue
                    mn = mx = None
                    nulls = 0
                    ok = True
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx[c]).statistics
                        if st is None or not st.has_min_max:
                            # a row group without stats poisons the
                            # whole file: we can no longer bound it
                            ok = False
                            continue
                        nulls += st.null_count or 0
                        mn = st.min if mn is None or st.min < mn else mn
                        mx = st.max if mx is None or st.max > mx else mx
                    has = ok and mn is not None
                    rows.append(
                        (
                            p,
                            c,
                            _num(mn) if has else None,
                            _num(mx) if has else None,
                            str(mn) if has and _num(mn) is None else None,
                            str(mx) if has and _num(mx) is None else None,
                            nulls,
                            md.num_rows,
                            has,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path", "col", "min_num", "max_num",
                    "min_str", "max_str", "n_nulls", "n_rows", "has_stats",
                ],
            )

    return fdf.mapInPandas(_footers, schema=_ZM_SCHEMA)


def write_zonemap(
    spark: SparkSession, table_path: str, cols: list[str], zonemap_path: str
) -> None:
    """Full build, committed as an ``overwrite`` of the map's TxTable."""
    TxTable(zonemap_path).overwrite(build_zonemap(spark, table_path, cols))


def pruned_files(
    spark: SparkSession,
    zonemap_path: str,
    col: str,
    lo: float | str | None,
    hi: float | str | None,
) -> tuple[list[str], int]:
    """File paths that can contain ``col`` values in [lo, hi] (either
    bound None = open). Returns (kept_paths, total_files). Files
    without usable stats are always kept (module contract).

    The collect here is one row per FILE — the same driver-side scale
    as Spark's own file-listing step for any parquet read, which this
    list feeds; it is never row-scale."""
    kept, mapped = _pruned(TxTable(zonemap_path).read(spark), zonemap_path, col, lo, hi)
    return kept, len(mapped)


def _pruned(
    zm: DataFrame,
    zonemap_path: str,
    col: str,
    lo: float | str | None,
    hi: float | str | None,
) -> tuple[list[str], set[str]]:
    """(kept paths, every path the map ``zm`` holds ``col`` rows for)."""
    import datetime as _dt

    def _bound(v):
        # datetime bounds prune against the stored epoch-micros stats
        if isinstance(v, _dt.datetime):
            return float(int(v.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000))
        return v

    lo, hi = _bound(lo), _bound(hi)
    zm = zm.filter(F.col("col") == col)
    is_str = isinstance(lo, str) or isinstance(hi, str)
    mn = F.col("min_str") if is_str else F.col("min_num")
    mx = F.col("max_str") if is_str else F.col("max_num")
    keep = ~F.col("has_stats") | mn.isNull()
    rng = F.lit(True)
    if lo is not None:
        rng = rng & (mx >= F.lit(lo))
    if hi is not None:
        rng = rng & (mn <= F.lit(hi))
    rows = zm.select("path", (keep | rng).alias("k")).collect()
    if not rows:
        # the map has NO rows for this column: it was never built for
        # it — pruning on absent evidence would silently skip every
        # file (wrong data, not wasted IO). Refuse loudly instead.
        raise ValueError(
            f"zone map at {zonemap_path} has no statistics for column "
            f"{col!r} — build it with write_zonemap/zonemap_refresh"
        )
    return sorted(r["path"] for r in rows if r["k"]), {r["path"] for r in rows}


def zonemap_scan(
    spark: SparkSession,
    table_path: str,
    zonemap_path: str,
    col: str,
    lo: float | str | None,
    hi: float | str | None,
) -> DataFrame:
    """Range scan with file-level skipping: read ONLY the files the
    zone map cannot rule out, then re-apply the exact predicate —
    row-identical to the full scan (asserted in tests), IO
    proportional to the matching range instead of the table. The
    single-predicate form of ``zonemap_scan_multi`` (one body, so the
    staleness guard and filter builder cannot drift)."""
    return zonemap_scan_multi(spark, table_path, zonemap_path, [(col, lo, hi)])


def write_clustered(
    df: DataFrame, path: str, col: str, n_files: int
) -> None:
    """Write ``df`` range-CLUSTERED on ``col``: repartitionByRange
    gives each output file a disjoint value range (Spark samples the
    column to pick balanced split points), sortWithinPartitions keeps
    row groups internally ordered — together they make the zone map
    maximally selective (a point/range predicate touches the minimal
    file set instead of every file, the layout half of the skipping
    story; the parquet writer then also gets monotone column chunks,
    which encode smaller). The write itself is one range shuffle."""
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zonemap_refresh(
    spark: SparkSession,
    table_path: str,
    cols: list[str],
    zonemap_path: str,
    files: list[str] | None = None,
) -> tuple[int, int]:
    """Incremental zone-map maintenance: footers are read ONLY for
    files not yet in the map, and rows for files that left the table
    (compaction, vacuum) are dropped — so keeping the map current
    costs metadata IO proportional to the CHANGE, not the table.
    Returns (n_files_added, n_files_removed). Falls back to a full
    build when no map exists.

    The map is a TxTable: the refresh is a ``rewrite`` of the snapshot
    it read, so a reader sees the old map or the new one, never a
    missing or half-written one, and a crash before the commit leaves
    only an unreferenced data dir. ``vacuum(retain_versions=2)`` then
    keeps the replaced version for readers in flight.

    ``files`` overrides the table scan's file listing with an
    explicit live set (the bloom_refresh twin of the same hook): a
    TxTable's root holds every version's data dirs, so pass
    ``TxTable.read(spark).inputFiles()`` and the map tracks exactly
    the live snapshot across appends, compaction, and vacuum."""
    current = (
        set(files)
        if files is not None
        else set(spark.read.parquet(table_path).inputFiles())
    )
    zm = TxTable(zonemap_path)
    if zm.latest_version() == 0:
        zm.overwrite(_file_stats(spark, sorted(current), cols))
        return len(current), 0
    counts: dict[str, tuple[int, int]] = {}

    def _refresh(snap: DataFrame) -> DataFrame:
        known = {r["path"] for r in snap.select("path").distinct().collect()}
        added, removed = sorted(current - known), known - current
        counts["n"] = (len(added), len(removed))
        kept = snap.filter(~F.col("path").isin(list(removed))) if removed else snap
        return kept.unionByName(_file_stats(spark, added, cols)) if added else kept

    zm.rewrite(spark, _refresh)
    zm.vacuum(retain_versions=2)
    return counts["n"]


def zonemap_scan_multi(
    spark: SparkSession,
    table_path: str,
    zonemap_path: str,
    predicates: list[tuple[str, float | str | None, float | str | None]],
) -> DataFrame:
    """Conjunctive range scan: a file survives only if EVERY
    (col, lo, hi) predicate's zone says it might match — the kept
    sets intersect, so each extra predicate can only prune further
    (multi-column skipping is where zone maps beat single-column
    directory partitioning outright). Unmapped files are kept
    unconditionally (the staleness guard), and the exact conjunction
    re-applies after the read."""
    full = scan_parquet(spark, table_path)
    if not predicates:
        return full  # no predicate = no pruning, never an empty scan
    zm = TxTable(zonemap_path).read(spark)  # one snapshot for every predicate
    table_files = set(full.inputFiles())
    kept: set[str] | None = None
    for col, lo, hi in predicates:
        paths, mapped = _pruned(zm, zonemap_path, col, lo, hi)
        # STALENESS GUARD: files the map has never seen are kept
        # unconditionally — a stale map costs IO, never rows
        keep = set(paths) | (table_files - mapped)
        kept = keep if kept is None else (kept & keep)
    paths = sorted(kept)
    if not paths:
        return full.limit(0)
    # basePath: when the table is hive-partitioned (zone map on a
    # NON-partition column), reading leaf files directly would drop
    # the partition-directory columns and the pruned scan would no
    # longer be schema-identical to the full scan (ADVICE r9);
    # harmless for unpartitioned tables
    df = spark.read.option("basePath", table_path).parquet(*paths)
    pred = F.lit(True)
    for col, lo, hi in predicates:
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
    return df.filter(pred)


# ---- Z-ORDER clustering (r14) ---------------------------------------
#
# write_clustered solves the ONE-column layout problem: linear range
# clustering makes the zone map maximally selective on that column and
# useless on every other (each file's range on an uncorrelated second
# column stays the full domain). Z-ordering — mapping each row to the
# bit-interleaving of its columns' quantile-bucket ids and range-
# clustering on THAT (Morton order; the layout behind Delta's
# OPTIMIZE ZORDER BY) — spends the layout budget evenly: a range
# predicate on ANY of the d clustered columns prunes to roughly
# n_files^(1-1/d) files instead of none. Quantile buckets (not raw
# value bits) make the interleave robust to skew and arbitrary value
# ranges: each column contributes uniformly-occupied cells by
# construction.


def zorder_column(
    df: DataFrame, cols: list[str], bits: int = 6
) -> "F.Column":
    """The Morton/Z-value as a Column: per column, a ``bits``-bit
    quantile-bucket id (split points from approxQuantile on the
    driver — one tiny job per column, never row-scale), then the
    ids' bits interleaved MSB-first across columns. NULL buckets as 0
    (lowest cell — zone maps never prune on NULL anyway). Numeric
    columns only (cast timestamps to epoch micros first); raises on
    anything approxQuantile cannot rank.

    Interleaved positions must fit a signed BIGINT: ``bits * d <= 63``
    or this raises (ADVICE r14 — shiftleft on an INT bucket masks the
    shift count mod 32, so position 31 produced Integer.MIN_VALUE and
    positions >=32 silently wrapped, garbling the clustering layout;
    the shift now runs on a BIGINT bucket, whose mod-64 window the
    guard keeps us inside)."""
    if bits * len(cols) > 63:
        raise ValueError(
            f"zorder_column: bits*len(cols) = {bits * len(cols)} exceeds the "
            f"63 interleaved positions a signed BIGINT holds — lower bits "
            f"(e.g. bits={63 // len(cols)} for {len(cols)} columns)"
        )
    nb = 1 << bits
    parts = []
    for j, c in enumerate(cols):
        probs = [k / nb for k in range(1, nb)]
        splits = df.select(F.col(c).cast("double").alias(c)).approxQuantile(
            c, probs, 0.001
        )
        arr = F.array(*[F.lit(float(s)) for s in splits])
        bucket = F.coalesce(
            F.aggregate(
                arr,
                F.lit(0),
                lambda acc, s: acc
                + F.when(F.col(c).cast("double") > s, 1).otherwise(0),
            ),
            F.lit(0),
        )
        # bit i of column j lands at interleaved position i*d + (d-1-j)
        # (higher columns earlier within each bit plane)
        d = len(cols)
        bucket64 = bucket.cast("bigint")
        parts.extend(
            F.shiftleft(
                F.shiftright(bucket64, i).bitwiseAND(F.lit(1)).cast("bigint"),
                i * d + (d - 1 - j),
            )
            for i in range(bits)
        )
    z = parts[0]
    for p in parts[1:]:
        z = z + p
    return z.cast("bigint")


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int, bits: int = 6
) -> None:
    """Write ``df`` Z-ORDER-clustered on ``cols``: range-partition on
    the Morton value (disjoint z-ranges per file = compact hyper-
    rectangles in col-space), sort within partitions so row groups
    stay coherent too. Same one-shuffle cost as write_clustered; the
    multi-column generalization of it (d=1 degenerates to quantile
    range clustering). Pair with write_zonemap/zonemap_scan_multi —
    the layout is only observable through the pruning it enables,
    asserted in tests/test_zonemap.py."""
    z = zorder_column(df, cols, bits=bits)
    (
        df.withColumn("__zv", z)
        .repartitionByRange(n_files, F.col("__zv"))
        .sortWithinPartitions("__zv")
        .drop("__zv")
        .write.mode("overwrite")
        .parquet(path)
    )
