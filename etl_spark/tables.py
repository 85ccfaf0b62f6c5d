"""Test-fixture table access.

The driver materializes TPC-H-ish parquet tables per scale factor
(TESTDATA.md). All queries take ``(spark, sf_dir)`` and read through
these helpers so the scan is always a plain parquet DataSource scan —
filters and column pruning push down into it (verified in tests via
``.explain``).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def events_ts_physical_type(path: str) -> str:
    """Inspect the parquet footer (pyarrow, driver-local, no Spark job)
    and return the arrow type string of the ``ts`` column — e.g.
    ``"int64"`` (raw nanos, the old fixture encoding),
    ``"timestamp[ns]"``, or ``"timestamp[us]"`` (current fixtures).

    The fixture files are driver-owned and have been regenerated with a
    different ``ts`` encoding between rounds, so the loader must branch
    on what is actually on disk rather than assume one encoding.
    """
    import os

    import pyarrow.parquet as pq

    p = path
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            raise FileNotFoundError(f"no parquet files under {path}")
        p = os.path.join(path, parts[0])
    return str(pq.read_schema(p).field("ts").type)


# Resolved-scan memo: (session UUID, path, layout fingerprint,
# analysis-state marker) → the plain scan DataFrame. Re-running
# spark.read.parquet for every load() re-pays DataSource resolution +
# footer schema inference on the driver — measured 130–520 ms PER CALL
# at sf0.1 vs ~0 for reusing the resolved plan (r15 optimization,
# guide §5 driver discipline). This memoizes METADATA ONLY (a lazy
# scan node, exactly what a catalog table registration holds): no rows
# are computed or persisted, every query still plans its own
# filters/pruning on top of the shared scan and executes from parquet.
# The fingerprint folds the file (or the directory entries') mtime_ns
# and size, so an overwritten table self-invalidates — the
# _TABLE_BYTES_CACHE convention (ADVICE r4); the session UUID keys out
# stopped/parallel sessions. The analysis-state marker is "" for every
# plain scan and the (session timeZone, nanosAsLong) pair for events:
# its ts normalization resolves those confs at ANALYSIS time
# (Catalyst's ResolveTimeZone — the r10 bug class _SESSION_PINS
# exists for), so a frame analyzed under a different timeZone must
# never be served to a pinned query (ADVICE r15).
_SCAN_CACHE: dict[tuple[str, str, int, str], DataFrame] = {}
_SCAN_CACHE_MAX = 64  # tables × a few sessions; evict least recently used
_SCAN_LOCK = threading.Lock()  # callers on other threads share the memo


def _session_key(spark: SparkSession) -> str:
    try:
        return str(spark._jsparkSession.sessionUUID())
    except Exception:  # pragma: no cover - non-JVM session backends
        return str(id(spark))


def _layout_fingerprint(path: str) -> int:
    """(mtime, size)-based change marker for a parquet file OR
    directory. For directories the TOP-LEVEL entry (name, mtime, size)
    set is hashed — a FLAT layout assumption (ADVICE r15): the fixture
    tables are single files or one-level part-file dirs, so a rewrite
    of any part invalidates. A rewrite hidden inside a nested
    (hive-partitioned) subdirectory would only be caught by that
    subdir's own mtime bump (rename/replace does bump it; an in-place
    append inside it with a preserved mtime would not). Sizes are
    folded so an mtime-preserving copy (cp -p) with different bytes
    still invalidates."""
    import os

    st = os.stat(path)
    if not os.path.isdir(path):
        return hash((st.st_mtime_ns, st.st_size))
    with os.scandir(path) as it:
        return hash(
            (st.st_mtime_ns,)
            + tuple(
                sorted(
                    (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                    for e in it
                )
            )
        )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain parquet scan; the RESOLVED scan
    (metadata only) is memoized per session+layout so repeated loads
    skip driver-side re-resolution — each query still owns the plan
    built on top, so pushdown stays visible.

    ``events.ts`` is normalized to TIMESTAMP_NTZ whatever the on-disk
    encoding:

    - ``timestamp[us]`` (current fixture): read natively; the column
      arrives as TIMESTAMP_NTZ (naive parquet timestamp) or TIMESTAMP
      depending on reader config, so cast to TIMESTAMP_NTZ — a no-op
      for NTZ, and wall-clock-stable for LTZ because the session TZ is
      pinned to UTC (session.py).
    - ``int64`` / ``timestamp[ns]`` (old fixture): Spark's reader
      rejects nanos natively; read as raw int64 nanos (``nanosAsLong``)
      and floor-truncate to microseconds — exactly what DuckDB's µs
      timestamp does, so oracle parity holds.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    # events resolves session TZ / nanosAsLong at analysis time, so
    # those confs join the key; every other table's scan is conf-free
    if name == "events":
        try:
            analysis_state = "%s|%s" % (
                spark.conf.get("spark.sql.session.timeZone"),
                spark.conf.get(
                    "spark.sql.legacy.parquet.nanosAsLong", "false"
                ),
            )
        except Exception:  # pragma: no cover - host-specific
            analysis_state = "?"
    else:
        analysis_state = ""
    key = (_session_key(spark), path, _layout_fingerprint(path), analysis_state)
    cached = _memo_get(key)
    if cached is not None:
        return cached
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = events_ts_physical_type(path)
        if ts_type == "int64" or ts_type.startswith("timestamp[ns"):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # epoch + exact DECIMAL seconds => TIMESTAMP_NTZ, no
            # session-tz dependence (make_dt_interval's seconds arg is
            # DECIMAL-exact to the microsecond)
            df = spark.read.parquet(path).withColumn(
                "ts",
                F.expr(
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval(0, 0, 0, "
                    "CAST(ts DIV 1000 AS DECIMAL(26,0)) / 1000000)"
                ),
            )
        else:
            df = spark.read.parquet(path).withColumn(
                "ts", F.col("ts").cast("timestamp_ntz")
            )
    else:
        df = spark.read.parquet(path)
    _memo_put(key, df)
    return df


def _memo_get(key: tuple[str, str, int, str]) -> DataFrame | None:
    # re-insert on hit: eviction then drops cold entries, not hot tables
    with _SCAN_LOCK:
        df = _SCAN_CACHE.pop(key, None)
        if df is not None:
            _SCAN_CACHE[key] = df
        return df


def _memo_put(key: tuple[str, str, int, str], df: DataFrame) -> None:
    """Insert + eviction (ADVICE r15 — do NOT wipe other LIVE
    sessions' entries wholesale; two alternating sessions would evict
    each other on every miss): drop only (a) superseded entries for
    THIS path — a stale fingerprint reflects bytes no longer on disk,
    dead weight whichever session owns it — then (b) least recently
    used entries past the size cap so stopped sessions' handles can
    never accumulate unboundedly."""
    path = key[1]
    with _SCAN_LOCK:
        for k in [k for k in _SCAN_CACHE if k[1] == path and k[2] != key[2]]:
            del _SCAN_CACHE[k]
        while len(_SCAN_CACHE) >= _SCAN_CACHE_MAX:
            del _SCAN_CACHE[next(iter(_SCAN_CACHE))]
        _SCAN_CACHE[key] = df


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Memoized plain parquet scan of an arbitrary stored path — the
    stored-index readers' twin of ``load()`` (VERDICT r15 #6: the
    zonemap/bloom/posting/IVF index readers re-paid 130–520 ms of
    driver-side DataSource resolution per read on paths the fixture
    memo could not hit). Metadata only, same self-invalidation (the
    layout fingerprint folds entry mtimes+sizes, so index refresh /
    compaction / overwrite at the same path misses the memo) and the
    same bounded eviction as ``load``."""
    key = (_session_key(spark), path, _layout_fingerprint(path), "")
    cached = _memo_get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    _memo_put(key, df)
    return df


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` + a GUARDED repartition for compute-heavy map stages
    (shingling, per-row vector math): when the file scan yields far
    fewer partitions than cores — the single-row-group fixture files
    serialize the whole map stage on one core of local[32] — spread
    the rows across the cluster first.

    At real scale the guard never fires: a 100 TB table scans as
    thousands of splits (>= cores), so NO exchange is added and the
    plan is identical to ``load``. The repartition is round-robin on
    the RAW scan output (narrow columns, pre-explode), so even when it
    does fire the shuffled volume is the small input, never the
    exploded intermediate. Use only where downstream already shuffles;
    scan-local operators (x17/x20/x27/x30/x36) keep plain ``load`` so
    their zero-exchange plans stay locked.

    The guard inspects driver-local file sizes (memoized per path) —
    no Spark job, no RDD conversion: a table under ~4 MB/core cannot
    scan as one split per core, so it gets the spread; anything larger
    already parallelizes at the source."""
    df = load(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    if _table_bytes(f"{sf_dir}/{name}.parquet") < cores * 4 * 1024 * 1024:
        df = df.repartition(cores)
    return df


# keyed on (path, top-level mtime_ns): overwriting/appending a table
# at the same path bumps the file-or-directory mtime, so the memo
# self-invalidates instead of feeding load_parallel a stale size
# (ADVICE r4 — bench-style overwrite flows hit this). Stale entries
# for dead (path, mtime) pairs are dropped on sight, so the dict stays
# one live entry per path.
_TABLE_BYTES_CACHE: dict[tuple[str, int], int] = {}


def _table_bytes(path: str) -> int:
    """Total on-disk bytes of a parquet file-or-directory, memoized
    per (path, mtime)."""
    import os

    key = (path, os.stat(path).st_mtime_ns)
    if key not in _TABLE_BYTES_CACHE:
        for k in [k for k in _TABLE_BYTES_CACHE if k[0] == path]:
            del _TABLE_BYTES_CACHE[k]
        if os.path.isdir(path):
            _TABLE_BYTES_CACHE[key] = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, fs in os.walk(path)
                for f in fs
            )
        else:
            _TABLE_BYTES_CACHE[key] = os.path.getsize(path)
    return _TABLE_BYTES_CACHE[key]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql use
    and the multi-statement runner)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
