"""File-level Bloom index — per-(file, column) Bloom filters enabling
file skipping for EQUALITY predicates (Bloom '70; the design behind
Delta's Bloom-filter index and Parquet column bloom filters).

Zone maps (sources/zonemap.py) prune RANGE predicates and are useless
for point lookups on high-cardinality unsorted columns: every file's
[min, max] spans the domain, so `WHERE user_id = X` scans everything.
A per-file Bloom filter answers "might this file contain X?" with no
false negatives — files whose filter misses ANY of the value's k bit
positions provably do not contain it and are skipped; false positives
cost IO only (the pruned scan re-applies the exact predicate).

Storage reuses the x114 bitmap convention: positions pack into signed
BIGINT chunks (63 usable bits each), built with ONE scan as a
(path, col, chunk)-keyed bit_or aggregate — the whole index is a
DataFrame, mergeable and parquet-backed, ~m/63 longs per (file, col).

Hash contract (the part that must be airtight): build and probe MUST
produce identical positions. Both run the SAME Spark expressions —
double hashing h1 + i*h2 (Kirsch-Mitzenmacher '06) over xxhash64 —
and the probe casts its literal to the column's dtype RECORDED IN THE
INDEX at build time (xxhash64 of int vs bigint differ; a probe with a
python int against a string column would silently keep nothing).
Files absent from the index are NEVER skipped (the zonemap staleness
rule: absence of evidence keeps the file).

Storage: the index is a ``TxTable`` (sources/txlog.py), kept the way
the zone map is — a full build is an ``overwrite`` commit, a refresh a
``rewrite`` of the snapshot it read, and probes read the committed
snapshot through the log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.sources.txlog import TxTable
from etl_spark.tables import scan_parquet

# m = bit positions per (file, column) filter; k = probes per value.
# Defaults size for ~100k distinct values/file at ~1% fpp:
# fpp ~= (1 - e^(-k*n/m))^k -> m=2^20, k=5, n=1e5 => ~0.9%.
DEFAULT_M_BITS = 1 << 20
DEFAULT_K = 5

_CHUNK = 63  # usable bits per signed BIGINT (the x114 convention)


def _positions(col: F.Column, m_bits: int, k: int) -> list[F.Column]:
    """The k Bloom positions of ``col`` as Columns — double hashing
    over two independent xxhash64 seeds, reduced mod m BEFORE the
    combine so the i*h2 product stays <= k*m and can never overflow
    int64 under ANSI mode. NULL propagates (callers drop NULL rows:
    SQL equality never matches NULL anyway)."""
    h1 = F.pmod(F.xxhash64(col), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(col, F.lit(0x5EED)), F.lit(m_bits))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]


def build_bloom_index(
    spark: SparkSession,
    table_path: str,
    cols: list[str],
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """One data scan -> (path, col, dtype, chunk, bits) Bloom rows.
    Each value contributes its k positions; positions pack into
    63-bit chunks via a (path, col, chunk) bit_or — map-side combine
    collapses the explode before the shuffle, so the exchange carries
    at most m/63 rows per (file, col), not row-scale data. Only
    chunks with at least one set bit are stored (sparse filters stay
    small); ``m_bits``/``k`` ride along so probes can never use
    mismatched geometry."""
    return _bloom_rows_of(spark.read.parquet(table_path), cols, m_bits, k)


def _bloom_rows_of(
    df: DataFrame, cols: list[str], m_bits: int, k: int
) -> DataFrame:
    """The Bloom rows of an already-constructed scan frame — shared
    by the full build and the refresh's added-files pass (one body,
    so build and refresh can never hash differently)."""
    dtypes = dict(df.dtypes)
    out = None
    for c in cols:
        pos = F.explode(F.array(*_positions(F.col(c), m_bits, k))).alias("pos")
        part = (
            df.filter(F.col(c).isNotNull())
            .select(F.input_file_name().alias("path"), pos)
            .groupBy(
                "path", F.expr(f"CAST(pos DIV {_CHUNK} AS BIGINT)").alias("chunk")
            )
            .agg(
                F.bit_or(
                    # SQL shiftleft takes a Column bit count; the
                    # python F.shiftleft insists on an int literal
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT),"
                        f" CAST(pos % {_CHUNK} AS INT))"
                    )
                ).alias("bits")
            )
            .select(
                "path",
                F.lit(c).alias("col"),
                F.lit(dtypes[c]).alias("dtype"),
                F.lit(m_bits).cast("bigint").alias("m_bits"),
                F.lit(k).cast("int").alias("k"),
                "chunk",
                "bits",
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


def write_bloom_index(
    spark: SparkSession,
    table_path: str,
    cols: list[str],
    index_path: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> None:
    """Full build, committed as an ``overwrite`` of the index's TxTable."""
    TxTable(index_path).overwrite(build_bloom_index(spark, table_path, cols, m_bits, k))


def _bloom_probe(
    spark: SparkSession, index_path: str, col: str, value
) -> tuple[set[str], set[str]]:
    """Core probe shared by ``bloom_pruned_files`` and ``bloom_scan``:
    returns (kept_paths, indexed_paths). One geometry-listing job, one
    1-row hashing job covering EVERY recorded (dtype, m_bits, k)
    generation at once, then one per-geometry (path)-keyed aggregate
    whose collect is one row per FILE — kept/indexed are split
    driver-side from the same rows, so the scan wrapper no longer
    pays a separate distinct-paths job (r15, guide §5: the probe went
    from 4-5 index jobs to 3 with identical verdicts; the driver-side
    bound stays one row per file, the same scale as Spark's own file
    listing).

    A legacy index can hold rows from multiple build generations whose
    recorded dtypes differ (the table's column type evolved between
    bloom_refresh runs before refresh started rejecting that). Each
    file's bits were computed by hashing ITS generation's physical
    type, so the probe runs once per recorded (dtype, m_bits, k)
    group, restricted to the files recorded under that group, and
    unions the kept sets — casting the literal to a single dtype
    would compute wrong bit positions for the other generation and
    could skip a file that contains the value."""
    if value is None:
        # xxhash64 SKIPS null inputs (returns the bare seed), so a
        # NULL probe would silently match the seed's bit pattern
        # instead of failing — and SQL equality never matches NULL
        # anyway. Point callers at IS NULL semantics.
        raise ValueError("bloom probe value must not be NULL (use IS NULL)")
    idx = TxTable(index_path).read(spark).filter(F.col("col") == col)
    geoms = idx.select("dtype", "m_bits", "k").distinct().collect()
    if not geoms:
        raise ValueError(
            f"bloom index at {index_path} has no rows for column {col!r} — "
            f"build it with write_bloom_index"
        )
    # ONE 1-row job hashes the literal for every recorded geometry
    pos_exprs = []
    for gi, geom in enumerate(geoms):
        dtype, m_bits, k = geom["dtype"], int(geom["m_bits"]), int(geom["k"])
        lit = F.lit(value).cast(dtype)
        pos_exprs.extend(
            p.alias(f"g{gi}_{i}")
            for i, p in enumerate(_positions(lit, m_bits, k))
        )
    pos_row = spark.range(1).select(*pos_exprs).first()
    kept_paths: set[str] = set()
    indexed_paths: set[str] = set()
    for gi, geom in enumerate(geoms):
        dtype, m_bits, k = geom["dtype"], int(geom["m_bits"]), int(geom["k"])
        sub = idx.filter(
            (F.col("dtype") == dtype)
            & (F.col("m_bits") == m_bits)
            & (F.col("k") == k)
        )
        positions = [pos_row[f"g{gi}_{i}"] for i in range(k)]
        if any(p is None for p in positions):
            # cast(dtype) turned the probe into NULL (e.g. a
            # non-numeric string probed against a bigint column):
            # provably matches nothing in THIS generation's files —
            # but its files are still INDEXED (never-skipped guard
            # applies only to files absent from the index)
            indexed_paths.update(
                r["path"] for r in sub.select("path").distinct().collect()
            )
            continue
        needed: dict[int, int] = {}
        for p in positions:
            needed[p // _CHUNK] = needed.get(p // _CHUNK, 0) | (1 << (p % _CHUNK))
        # a file survives iff the number of DISTINCT needed chunks it
        # fully covers equals the number needed (per-chunk masks must
        # all be subsets of the stored bits)
        per_chunk_ok = None
        for chunk, mask in needed.items():
            ok = F.max(
                F.when(
                    (F.col("chunk") == chunk)
                    & (F.col("bits").bitwiseAND(F.lit(mask)) == F.lit(mask)),
                    1,
                ).otherwise(0)
            )
            per_chunk_ok = ok if per_chunk_ok is None else (per_chunk_ok + ok)
        for r in (
            sub.groupBy("path").agg(per_chunk_ok.alias("n_ok")).collect()
        ):
            indexed_paths.add(r["path"])
            if r["n_ok"] == len(needed):
                kept_paths.add(r["path"])
    return kept_paths, indexed_paths


def bloom_pruned_files(
    spark: SparkSession, index_path: str, col: str, value
) -> tuple[list[str], int]:
    """Files that MIGHT contain ``col = value`` per the Bloom index:
    a file survives iff every one of the value's k bits is set in its
    filter. No false negatives by construction; false positives cost
    IO in the caller's re-filter. Returns (kept_paths, indexed_files).
    See ``_bloom_probe`` for the job shape and the multi-generation
    dtype rule."""
    kept, indexed = _bloom_probe(spark, index_path, col, value)
    return sorted(kept), len(indexed)


def bloom_scan(
    spark: SparkSession, table_path: str, index_path: str, col: str, value
) -> DataFrame:
    """Point-lookup scan with Bloom file skipping: read only the
    files the index cannot rule out (plus any file the index has
    never seen — the staleness guard), then re-apply the exact
    equality — row-identical to the full filtered scan, IO
    proportional to the files that might match."""
    full = scan_parquet(spark, table_path)
    # one probe yields BOTH the kept set and the indexed set — the
    # separate distinct-paths job this wrapper used to run is gone
    # (r15, guide §5)
    kept, indexed = _bloom_probe(spark, index_path, col, value)
    paths = sorted(kept | (set(full.inputFiles()) - indexed))
    if not paths:
        return full.filter(F.col(col) == F.lit(value)).limit(0)
    return (
        spark.read.option("basePath", table_path)
        .parquet(*paths)
        .filter(F.col(col) == F.lit(value))
    )


def bloom_refresh(
    spark: SparkSession,
    table_path: str,
    cols: list[str],
    index_path: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    files: list[str] | None = None,
) -> tuple[int, int]:
    """Incremental index maintenance (the zonemap_refresh twin):
    SCAN only files not yet indexed and drop rows for files that left
    the table (compaction/vacuum), committed as a ``rewrite`` of the
    index snapshot it read — keeping the index current costs one data
    pass over the CHANGE, not the table. Returns (n_files_added,
    n_files_removed); falls back to a full build when no index exists.
    Geometry (m_bits, k) of retained rows wins over the arguments —
    mixing geometries in one index would corrupt probes, so a geometry
    change requires a rebuild.

    ``files`` overrides the table scan's file listing with an
    explicit live set — the hook TRANSACTIONAL tables need: a
    TxTable's root holds every version's data dirs, so a plain
    recursive listing would index dead files forever and never drop
    compacted ones. Pass ``TxTable.read(spark).inputFiles()`` (one
    snapshot resolution) and the index tracks exactly the live
    snapshot across appends, compaction, and vacuum."""
    current = (
        set(files)
        if files is not None
        else set(spark.read.parquet(table_path).inputFiles())
    )
    index = TxTable(index_path)
    if index.latest_version() == 0:
        index.overwrite(_bloom_rows_of(_scan(spark, table_path, current), cols, m_bits, k))
        return len(current), 0
    counts: dict[str, tuple[int, int]] = {}

    def _refresh(idx: DataFrame) -> DataFrame:
        known = {r["path"] for r in idx.select("path").distinct().collect()}
        added, removed = sorted(current - known), known - current
        counts["n"] = (len(added), len(removed))
        kept = idx.filter(~F.col("path").isin(list(removed))) if removed else idx
        if not added:
            return kept
        df = _scan(spark, table_path, added)
        dtypes = dict(df.dtypes)
        # dtype of retained rows wins the same way geometry does: the
        # stored bits were computed by hashing the RECORDED physical
        # type, so appending rows hashed under a different type would
        # create a mixed-generation index (probe handles those found
        # in the wild, but refresh must not manufacture one) — a
        # column type change requires a rebuild.
        retained_dtypes = {
            (r["col"], r["dtype"])
            for r in kept.select("col", "dtype").distinct().collect()
        }
        retained_cols = {c for c, _ in retained_dtypes}
        changed = [
            c
            for c in cols
            if c in retained_cols and (c, dtypes[c]) not in retained_dtypes
        ]
        if changed:
            raise ValueError(
                f"bloom_refresh: column dtype changed since the index was "
                f"built for {changed} — rebuild with write_bloom_index "
                f"(mixing hash generations in one refresh is refused, like "
                f"an m_bits/k geometry change)"
            )
        geom = idx.select("m_bits", "k").first()
        return kept.unionByName(
            _bloom_rows_of(df, cols, int(geom["m_bits"]), int(geom["k"]))
        )

    index.rewrite(spark, _refresh)
    index.vacuum(retain_versions=2)
    return counts["n"]


def _scan(spark: SparkSession, table_path: str, files) -> DataFrame:
    """The table's rows from ``files`` only; ``basePath`` keeps a
    hive-partitioned table's directory columns."""
    return spark.read.option("basePath", table_path).parquet(*sorted(files))
