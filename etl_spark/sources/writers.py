"""Table writers — the reference's load patterns re-expressed as
Spark writes (SURVEY.md §2.1 S5–S7 and §2.9 DML).

Reference behaviors reproduced (cited):

- **append** (S5): `executemany(INSERT INTO t ...)` per-dialect
  (web_scheduler.py:4376-4487) → `df.write.mode("append")`.
- **truncate-and-load** (S6): `DELETE FROM t` then `to_sql(...,
  if_exists='append')` (uploads/excel_to_db.py:53-77). The reference's
  two-step is non-atomic — readers see an empty table mid-load. Here
  the load is one `_commit` (SURVEY.md §7.4).
- **auto-create** (S7): `to_sql` creating the table from DataFrame
  dtypes (uploads/excel_to_db.py:74) → `saveAsTable` on first write.
- **upsert** (`INSERT OR REPLACE`, web_scheduler.py:4510-4513): with no
  Delta in this environment, MERGE is a keyed anti-join +
  union-overwrite. At 100 TB you'd use Delta/Iceberg `MERGE INTO`
  (partition-pruned, file-level rewrite); the anti-join form here has
  the same one-shuffle cost profile keyed on the merge keys.

Every rewrite of an existing UNPARTITIONED table is one `_commit`: a
reader sees the old rows or the new ones. Partitioned tables (dynamic
partition overwrite) and schema changes are NOT atomic for readers.

All writers target **managed tables** (the session's
`spark.sql.warehouse.dir`) so the DDL/DML surface (§2.9) operates on
the same catalog.
"""

from __future__ import annotations

import contextlib
import threading
import time
import uuid
from collections.abc import Callable, Iterator

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession


def ensure_table(df: DataFrame, table: str) -> bool:
    """Create ``table`` from ``df``'s schema if absent (S7 auto-create,
    uploads/excel_to_db.py:74 — "如果目标表不存在，程序会自动创建").
    Returns True if the table was created."""
    if df.sparkSession.catalog.tableExists(table):
        return False
    # empty write materializes schema + table metadata without data
    _commit(df.limit(0), table)
    return True


def append(df: DataFrame, table: str) -> None:
    """S5 batch-insert append. Auto-creates on first write (S7).
    Column order is aligned by name (`unionByName` semantics) — the
    reference aligns by explicit column list (web_scheduler.py:4413)."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):  # S7: the first write creates it
        _commit(df, table)
        return
    writer = df.select(*spark.table(table).columns).write.format("parquet").mode("append")
    # appends must match the table's bucket layout
    _bucketed(writer, _bucket_spec(spark, table)).saveAsTable(table)
    spark.catalog.refreshTable(table)


def append_row(spark: SparkSession, table: str, values: tuple) -> None:
    """Append ONE row to an existing table, values in column order —
    the reference's per-event audit `INSERT INTO ... VALUES`
    (web_scheduler.py:1099-1115, :1129-1144).

    Inside ``deferred_appends`` on this thread the row is buffered and
    committed with the others when the context exits; otherwise it is
    written before the call returns. Both are `_insert_rows`, the
    single-row write being its one-row case."""
    buffered = getattr(_deferred, "rows", None)
    if buffered is None:
        _insert_rows(spark, table, [values])
    else:
        buffered.setdefault(table, []).append(values)


def _insert_rows(spark: SparkSession, table: str, rows: list[tuple]) -> None:
    """One parameterized ``INSERT … SELECT FROM VALUES`` of ``rows``.

    An inline VALUES list is a driver-side LocalRelation, so the
    insert is one write job; the COALESCE(1) hint makes it one task and
    one file however many rows (a bare VALUES list writes a file per
    row). ``createDataFrame(rows).write.insertInto`` goes through a
    Python list → RDD conversion and leaves two files per row, at
    ~0.5 s a row. Every value is a bound parameter, never SQL text, so
    error messages with quotes, semicolons or ``:name`` land verbatim.
    Naive ``datetime`` values are bound as text and cast to
    TIMESTAMP_NTZ: a bound Python datetime is a session-time-zone
    TIMESTAMP and would land shifted by the session offset."""
    import datetime as _dt

    tuples, args = [], {}
    for r, values in enumerate(rows):
        slots = []
        for i, v in enumerate(values):
            name = f"p{r}_{i}"
            if isinstance(v, _dt.datetime):
                slots.append(f"CAST(:{name} AS TIMESTAMP_NTZ)")
                v = v.isoformat(sep=" ")
            else:
                slots.append(f":{name}")
            args[name] = v
        tuples.append(f"({', '.join(slots)})")
    spark.sql(
        f"INSERT INTO {table} SELECT /*+ COALESCE(1) */ * FROM VALUES {', '.join(tuples)}",
        args=args,
    )


_deferred = threading.local()


@contextlib.contextmanager
def deferred_appends(spark: SparkSession) -> Iterator[None]:
    """Group commit for ``append_row``: every row appended on this
    thread inside the context is buffered, and on exit each table gets
    one ``_insert_rows`` of its rows in append order, through ``spark``
    (the values bind the same in any session) — one job and one file
    per table instead of one per row. A nested use joins the outer
    buffer. The flush runs even when the body raises; the tables flush
    concurrently on ``InheritableThread``s, which carry this thread's
    job group, every one is attempted, and the first table's error is
    re-raised. Rows are committed only when the context exits: a
    process that dies inside it loses them."""
    if getattr(_deferred, "rows", None) is not None:
        yield
        return
    _deferred.rows = buffered = {}
    try:
        yield
    finally:
        _deferred.rows = None
        _flush(spark, buffered)


def _flush(spark: SparkSession, buffered: dict[str, list[tuple]]) -> None:
    errors: dict[str, BaseException] = {}

    def insert(table: str) -> None:
        try:
            _insert_rows(spark, table, buffered[table])
        except BaseException as ex:  # noqa: BLE001 — re-raised below
            errors[table] = ex

    tables = list(buffered)
    threads = [InheritableThread(insert, args=(t,), session=spark) for t in tables[1:]]
    for th in threads:
        th.start()
    for table in tables[:1]:  # the first table flushes on this thread
        insert(table)
    for th in threads:
        th.join()
    for table in tables:
        if table in errors:
            raise errors[table]


def append_evolve(df: DataFrame, table: str) -> list[str]:
    """S5 append with SCHEMA EVOLUTION: columns present in ``df`` but
    not in the table are added via `ALTER TABLE ... ADD COLUMNS`
    (a metadata-only DDL — existing parquet files simply read the new
    columns as NULL), then the append aligns by name with missing
    table-columns filled NULL. Returns the column names added.

    This is the upload-edge behavior the reference approximates by
    recreating tables when an Excel gains a column
    (uploads/excel_to_db.py auto-create path) — here it is an O(1)
    catalog operation, never a data rewrite."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        _commit(df, table)
        return []
    existing = {f.name: f.dataType.simpleString() for f in spark.table(table).schema}
    new_fields = [f for f in df.schema if f.name not in existing]
    if new_fields:
        cols_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in new_fields
        )
        spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({cols_ddl})")
    target_cols = spark.table(table).columns
    aligned = df.select(
        *[
            F.col(c) if c in df.columns else F.lit(None).cast(existing[c]).alias(c)
            for c in target_cols
        ]
    )
    append(aligned, table)
    return [f.name for f in new_fields]


def truncate_load(df: DataFrame, table: str) -> None:
    """S6 truncate-and-load full refresh as one `_commit`: a reader sees
    the old rows or the new ones, never the reference's empty table
    mid-load (uploads/excel_to_db.py:70-74). The bucket/sort layout
    survives; a new schema or a partitioned table is not atomic."""
    _commit(df, table)


@contextlib.contextmanager
def _dynamic_overwrite(spark: SparkSession):
    """Set partitionOverwriteMode=dynamic for ONE write and RESTORE
    the previous value. Leaving 'dynamic' set poisoned every later
    partitioned overwrite in the session — r9 finding: dynamic-mode
    jobs also skip the ``_SUCCESS`` marker, so a later
    ``ivf_index_append`` delta looked forever-uncommitted and streamed
    index refreshes silently retrieved nothing (caught by the
    full-suite run of test_streaming_knn_probe_admit_refreshes_index).

    It stays a session-conf write: ``insertInto`` ignores the
    per-write ``partitionOverwriteMode`` option (untouched partitions
    are still wiped), and a write from a child session would leave the
    caller's relation cache stale (the foreachBatch hazard in
    streaming/sinks.py)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def partitioned_save(
    df: DataFrame,
    table: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Write a managed table hive-partitioned by ``partition_cols``
    (typically a date or date-derived column). Readers filtering on
    those columns prune at the DIRECTORY level — files of excluded
    partitions are never listed, let alone read (PartitionFilters in
    the scan node; asserted in tests/test_scale.py). At 100 TB this
    is the first-order IO lever: a day filter over a year of data
    reads ~0.3% of files.

    Overwrite of an EXISTING table routes through ``insertInto`` with
    dynamic partition overwrite — only the partitions present in
    ``df`` are replaced (saveAsTable(overwrite) drops the whole
    table, dynamic mode notwithstanding). insertInto is positional,
    so columns are aligned to the table schema first.

    The frame is repartitioned on the partition columns before the
    write: without it every shuffle task writes a file into every
    hive partition (tasks × partitions tiny files — the classic
    small-files explosion); with it each partition is written by one
    task. For a skewed giant partition, add a secondary salt column
    to the repartition."""
    spark = df.sparkSession
    df = df.repartition(*partition_cols)
    with _dynamic_overwrite(spark):
        if spark.catalog.tableExists(table):
            df.select(*spark.table(table).columns).write.insertInto(
                table, overwrite=(mode == "overwrite")
            )
        else:
            _sweep(spark, _default_path(spark, table), keep=lambda name: False)
            df.write.format("parquet").partitionBy(*partition_cols).saveAsTable(table)


def bucketed_save(
    df: DataFrame,
    table: str,
    bucket_keys: list[str],
    n_buckets: int = 32,
    sort_keys: list[str] | None = None,
) -> None:
    """Write a managed table bucketed (and optionally sorted) by
    ``bucket_keys``: rows are hash-distributed into ``n_buckets``
    files per partition writer, and the layout is recorded in the
    catalog. Equi-joins and aggregations on the bucket keys between
    tables sharing the same bucketing then run with ZERO shuffle —
    the co-location the reference could never express. At 100 TB this
    is the difference between an exchange of the whole fact table and
    none at all; pick n_buckets so each bucket is a few hundred MB.
    (tests/test_scale.py asserts the no-Exchange plan.)"""
    _commit(df, table, bucket=(n_buckets, list(bucket_keys), list(sort_keys or [])))


def sorted_save(
    df: DataFrame,
    table: str,
    sort_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Write a table RANGE-partitioned + sorted by ``sort_cols`` —
    the parquet data-skipping lever: each output file covers a
    disjoint key range, so every file's (and row group's) min/max
    stats are tight and a pushed filter on the sort column skips
    whole files/row-groups at read time. The lakehouse poor-man's
    Z-order for single-dimension access patterns (ship a time/id
    filter to 1/N of the bytes). Complements `bucketed_save` (join
    co-location) and `partitioned_save` (directory pruning)."""
    out = df.repartitionByRange(*([n_files] if n_files else []), *sort_cols)
    _commit(out.sortWithinPartitions(*sort_cols), table, bucket=_UNBUCKETED)


def _partition_columns(spark: SparkSession, table: str) -> list[str]:
    """Partition columns of a catalog table ([] when unpartitioned)."""
    return [c.name for c in spark.catalog.listColumns(table) if c.isPartition]


def _sql_literal(v: object) -> str:
    if v is None:
        # hive convention: NULL partition values land in the default
        # partition; addressable by its sentinel name
        return "'__HIVE_DEFAULT_PARTITION__'"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return str(v)
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _partition_predicate(touched: list, pcols: list[str]):
    """Predicate selecting the ``touched`` partitions — Catalyst folds
    it into PartitionFilters so only those partition DIRECTORIES are
    listed/read. Single partition column → one IN list (compact even
    for thousands of touched partitions); composite keys → an
    OR-of-conjunctions chain (fine for typical delta sizes; a
    many-thousand-partition delta is effectively a full rewrite
    anyway)."""
    from functools import reduce

    from pyspark.sql import functions as F

    if len(pcols) == 1:
        c = pcols[0]
        vals = [r[c] for r in touched if r[c] is not None]
        pred = F.col(c).isin(vals) if vals else F.lit(False)
        if len(vals) != len(touched):  # a NULL partition was touched
            pred = pred | F.col(c).isNull()
        return pred

    def one(row):
        return reduce(
            lambda acc, c: acc & (F.col(c).eqNullSafe(F.lit(row[c]))), pcols, F.lit(True)
        )

    return reduce(lambda acc, r: acc | one(r), touched, F.lit(False))


def upsert(df: DataFrame, table: str, keys: list[str]) -> None:
    """MERGE-style upsert (`INSERT OR REPLACE INTO`,
    web_scheduler.py:4510-4513): rows in ``df`` replace target rows
    with equal ``keys``; everything else is kept.

    Parquet has no row-level MERGE, so: target ANTI-JOIN df on keys
    (keep unmatched) UNION df, then overwrite. One shuffle on the key
    columns.

    **Partition-scoped** (the 100 TB shape): when the table is
    partitioned, only partitions that actually contain matched keys or
    receive new rows are rewritten — the touched-partition set is
    computed from a column-pruned scan (keys + partition cols only),
    the merge runs over the pruned partitions, and the commit is a
    dynamic-partition overwrite. A 1-row MERGE into one partition of a
    10k-partition table rewrites exactly one partition, not the table.
    Partitions whose rows all moved elsewhere are dropped explicitly
    (dynamic overwrite only replaces partitions present in the
    output). Unpartitioned tables are rewritten whole by one
    `_commit`. On Delta/Iceberg this whole function is `MERGE INTO`."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        _commit(df, table)
        return
    target = spark.table(table)
    pcols = _partition_columns(spark, table)
    if pcols:
        if set(pcols) <= set(keys):
            # partition columns are PART of the merge key → a matched
            # target row necessarily shares the delta row's partition
            # values, so the touched set is the delta's partitions
            # alone. No target scan at all — the common
            # merge-by-(day, id) pattern costs O(delta) regardless of
            # table size.
            touched = df.select(*pcols).distinct().collect()
        else:
            # partitions holding an old version of a merged key (the
            # scan reads only key + partition columns), plus
            # partitions the new rows land in
            touched = (
                target.join(df.select(*keys).distinct(), on=keys, how="left_semi")
                .select(*pcols)
                .unionByName(df.select(*pcols))
                .distinct()
                .collect()
            )
        if not touched:
            return
        affected = target.filter(_partition_predicate(touched, pcols))
        merged = affected.join(df.select(*keys), on=keys, how="left_anti").unionByName(
            df.select(*target.columns)
        )
        _overwrite_partitions(merged, table, pcols, touched)
    else:
        merged = target.join(df.select(*keys), on=keys, how="left_anti").unionByName(
            df.select(*target.columns)
        )
        _commit(merged, table)


def delete_where(spark: SparkSession, table: str, condition: str) -> int:
    """§2.9 keyed DELETE (`DELETE FROM t WHERE ...`,
    web_scheduler.py:4982). SQL DELETE semantics: only rows where the
    predicate evaluates to TRUE are removed — NULL-valued predicates
    KEEP the row (a bare `NOT (cond)` would silently delete them).
    Returns number of deleted rows.

    Partition-scoped like `upsert`: only partitions containing a
    to-be-deleted row are rewritten; partitions emptied entirely are
    dropped via partition DDL."""
    from pyspark.sql import functions as F

    target = spark.table(table)
    cond_true = F.coalesce(F.expr(condition).cast("boolean"), F.lit(False))
    n_deleted = target.filter(cond_true).count()
    if n_deleted == 0:
        return 0
    pcols = _partition_columns(spark, table)
    if pcols:
        touched = target.filter(cond_true).select(*pcols).distinct().collect()
        kept = target.filter(_partition_predicate(touched, pcols)).filter(~cond_true)
        _overwrite_partitions(kept, table, pcols, touched)
    else:
        _commit(target.filter(~cond_true), table)
    return n_deleted


def update_set(
    spark: SparkSession, table: str, assignments: dict[str, str], condition: str = "true"
) -> int:
    """§2.9 UPDATE ... SET (dynamic SET-list builder,
    web_scheduler.py:2624-2675; computed update `SET is_active = NOT
    is_active` :4954-4958). ``assignments`` maps column -> SQL
    expression evaluated on rows where ``condition`` is TRUE (NULL
    predicates leave the row untouched, per SQL). Returns rows
    updated.

    Partition-scoped when the table is partitioned (all partitions when
    an assignment moves rows between them); else one `_commit`."""
    from pyspark.sql import functions as F

    target = spark.table(table)
    cond = F.coalesce(F.expr(condition).cast("boolean"), F.lit(False))
    n = target.filter(cond).count()
    if n == 0:
        return 0
    pcols = _partition_columns(spark, table)

    def apply_set(frame: DataFrame) -> DataFrame:
        return frame.select(
            *[
                F.when(cond, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in target.columns
            ]
        )

    if pcols:
        moves = bool(set(assignments) & set(pcols))
        touched = (target if moves else target.filter(cond)).select(*pcols).distinct().collect()
        updated = apply_set(target.filter(_partition_predicate(touched, pcols)))
        _overwrite_partitions(updated, table, pcols, touched)
    else:
        _commit(apply_set(target), table)
    return n


def _staging_name(table: str) -> str:
    """Collision-proof staging table, qualified into the TARGET's
    database (an unqualified name would land in the current database;
    a hash(table)-derived one collides across concurrent DML runs)."""
    import uuid

    db, _, name = table.rpartition(".")
    stage = f"__stage_{name}_{uuid.uuid4().hex[:12]}"
    return f"{db}.{stage}" if db else stage


Bucket = tuple[int, list[str], list[str]]  # (num_buckets, bucket_cols, sort_cols)
_UNBUCKETED: Bucket = (0, [], [])
_VERSIONS = ".versions"  # version directories: <default path>.versions/<name>


def _describe(spark: SparkSession, table: str) -> dict[str, str]:
    """DESCRIBE FORMATTED of a catalog table as {row name: value}."""
    return {r.col_name.strip(): r.data_type for r in
            spark.sql(f"DESCRIBE FORMATTED {table}").collect()}


def _bucket_spec(spark: SparkSession, table: str, info: dict[str, str] | None = None) -> Bucket:
    """(num_buckets, bucket_cols, sort_cols) of a catalog table —
    (0, [], []) when unbucketed — from its ``_describe`` ``info``."""
    rows = _describe(spark, table) if info is None else info
    n = rows.get("Num Buckets")
    if not n:
        return _UNBUCKETED

    def cols(v: str | None) -> list[str]:
        v = (v or "").strip().strip("[]")
        return [c.strip().strip("`") for c in v.split(",") if c.strip()]

    return int(n), cols(rows.get("Bucket Columns")), cols(rows.get("Sort Columns"))


def _bucketed(writer, bucket: Bucket):
    """``writer`` laid out by ``bucket``."""
    n_buckets, bucket_cols, sort_cols = bucket
    if n_buckets:
        writer = writer.bucketBy(n_buckets, *bucket_cols)
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
    return writer


def _default_path(spark: SparkSession, table: str) -> str:
    """Where the catalog puts ``table`` when it is created managed."""
    state = spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier(table)
    return state.catalog().defaultTablePath(ident).toString()


def _sweep(spark: SparkSession, default: str, keep: Callable[[str], bool]) -> None:
    """Delete the table's data directories whose name ``keep`` rejects:
    versions, and the default path as "". Only once a version exists."""
    path = spark._jvm.org.apache.hadoop.fs.Path
    root = path(default + _VERSIONS)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(root):
        versions = [(st.getPath().getName(), st.getPath()) for st in fs.listStatus(root)]
        for name, p in [("", path(default)), *versions]:
            if not keep(name):
                fs.delete(p, True)


def _commit(df: DataFrame, table: str, bucket: Bucket | None = None) -> None:
    """Make ``df`` (which may read ``table``) the table's contents: (1)
    write it once into ``<default path>.versions/<ns time>_<id>``, laid
    out by ``bucket`` (default: the table's own), through a transient
    external table as ``save`` cannot bucket; (2) ``ALTER TABLE … SET
    LOCATION`` there and ``refreshTable``; (3) delete the default path and
    the versions older than the one replaced, which readers may still
    scan. A failure before (2) deletes the new version. A new table is a
    plain CTAS, after sweeping what a dropped one left (``DROP TABLE``
    deletes only the current version). A swap keeps the catalog's schema,
    buckets and partitioning: if one differs, the table is dropped and
    re-created empty before (2), which is not atomic."""
    spark = df.sparkSession
    default = _default_path(spark, table)
    if not spark.catalog.tableExists(table):
        _sweep(spark, default, keep=lambda name: False)
        _bucketed(df.write.format("parquet"), bucket or _UNBUCKETED).saveAsTable(table)
        return
    info = _describe(spark, table)
    current = _bucket_spec(spark, table, info)
    bucket = current if bucket is None else bucket
    name = f"{time.time_ns():020d}_{uuid.uuid4().hex[:8]}"
    version = f"{default}{_VERSIONS}/{name}"
    transient = _staging_name(table)
    previous = info["Location"]
    try:
        writer = df.write.format("parquet").option("path", version)
        _bucketed(writer, bucket).saveAsTable(transient)
        spark.sql(f"DROP TABLE {transient}")
        reshape = bucket != current or "# Partition Information" in info
        if reshape or df.schema.simpleString() != spark.table(table).schema.simpleString():
            spark.sql(f"DROP TABLE {table}")
            _sweep(spark, default, keep=lambda n: n == name)
            _bucketed(df.limit(0).write.format("parquet"), bucket).saveAsTable(table)
            previous = default
        spark.sql(f"ALTER TABLE {table} SET LOCATION {_sql_literal(version)}")
    except BaseException:
        spark.sql(f"DROP TABLE IF EXISTS {transient}")
        _sweep(spark, default, keep=lambda n: n != name)
        raise
    spark.catalog.refreshTable(table)
    root, _, prev_name = previous.rpartition("/")
    if root == default + _VERSIONS:  # else the default path is the one replaced
        _sweep(spark, default, keep=lambda n: n >= prev_name)


def _overwrite_partitions(
    df: DataFrame, table: str, pcols: list[str], touched: list
) -> None:
    """Commit ``df`` (the post-DML contents of the ``touched``
    partitions) into ``table``, replacing ONLY those partitions:

    1. stage ``df`` (it reads from ``table``, and the insert below
       would delete files the lazy plan still has to read; the staged
       volume is just the affected partitions, not the table);
    2. dynamic-partition-overwrite insertInto — partitions present in
       the staged output are replaced, not atomically; others untouched;
    3. touched partitions ABSENT from the output (every row deleted /
       moved away) are dropped via ALTER TABLE ... DROP PARTITION,
       since dynamic overwrite cannot express "replace with nothing".
    """
    spark = df.sparkSession
    staging = _staging_name(table)
    df.write.format("parquet").mode("overwrite").saveAsTable(staging)
    try:
        staged = spark.table(staging)
        # repartition by partition cols so each output partition is
        # written by one task (no small-files explosion), then align
        # columns positionally for insertInto
        cols = spark.table(table).columns
        with _dynamic_overwrite(spark):
            staged.repartition(*pcols).select(*cols).write.insertInto(
                table, overwrite=True
            )
        remaining = {
            tuple(r) for r in staged.select(*pcols).distinct().collect()
        }
        for row in touched:
            if tuple(row) not in remaining:
                spec = ", ".join(
                    f"{c} = {_sql_literal(row[c])}" for c in pcols
                )
                spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION ({spec})")
        spark.catalog.refreshTable(table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {staging}")


ZORDER_BITS = 14  # per-dimension rank resolution (2 key bits per level)


def zorder_key(df: DataFrame, x_col: str, y_col: str, bits: int = ZORDER_BITS):
    """Morton (bit-interleaved) sort key over two numeric columns, as
    a codegen-able Column: each column is min/max-normalized to a
    ``bits``-bit integer rank, then the ranks' bits interleave —
    points close in the 2-D (x, y) space get close keys, so sorting
    by the key gives every output file a TIGHT min/max envelope in
    BOTH columns at once. Normalization bounds come from one 1-row
    aggregate (driver-side literals — this is a write utility, not a
    registered query operator)."""
    from pyspark.sql import functions as F

    mnx, mxx, mny, mxy = df.agg(
        F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col)
    ).first()
    top = (1 << bits) - 1

    def rank(col: str, mn, mx) -> str:
        if mn is None or mx is None:
            # empty input or all-NULL column: a constant key makes the
            # (empty) write proceed like sorted_save instead of dying
            # on float(None)
            return "(CAST(0 AS BIGINT))"
        span = float(mx) - float(mn)
        if span <= 0:
            return "(CAST(0 AS BIGINT))"
        return (
            f"(CAST(floor((CAST(`{col}` AS DOUBLE) - {float(mn)!r})"
            f" / {span!r} * {top}) AS BIGINT))"
        )

    xr, yr = rank(x_col, mnx, mxx), rank(y_col, mny, mxy)
    terms = [
        t
        for b in range(bits)
        for t in (
            f"shiftleft(shiftright({xr}, {b}) & 1, {2 * b})",
            f"shiftleft(shiftright({yr}, {b}) & 1, {2 * b + 1})",
        )
    ]
    return F.expr(" + ".join(terms))


def zorder_save(
    df: DataFrame,
    table: str,
    x_col: str,
    y_col: str,
    n_files: int | None = None,
    bits: int = ZORDER_BITS,
) -> None:
    """``sorted_save`` for TWO-dimensional access patterns: files are
    range-partitioned and sorted on the Morton key of (x, y), so a
    pushed filter on EITHER column — or a 2-D box on both — skips
    files via min/max footer stats, where a single-column sort gives
    skipping on that column only and NONE on the other. This is the
    public Z-ORDER technique Delta/Iceberg expose as OPTIMIZE ZORDER
    BY, expressed as a deterministic sort key plus the same
    range-partitioned write as ``sorted_save``; the skipping
    asymmetry is asserted from actual parquet footers in
    ``tests/test_scale.py``."""
    key = zorder_key(df, x_col, y_col, bits=bits)
    out = df.withColumn("_zkey", key)
    out = out.repartitionByRange(*([n_files] if n_files else []), "_zkey")
    _commit(out.sortWithinPartitions("_zkey").drop("_zkey"), table, bucket=_UNBUCKETED)
