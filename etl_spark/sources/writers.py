"""Table writers — the reference's load patterns re-expressed as
atomic Spark writes (SURVEY.md §2.1 S5–S7 and §2.9 DML).

Reference behaviors reproduced (cited):

- **append** (S5): `executemany(INSERT INTO t ...)` per-dialect
  (web_scheduler.py:4376-4487) → `df.write.mode("append")`.
- **truncate-and-load** (S6): `DELETE FROM t` then `to_sql(...,
  if_exists='append')` (uploads/excel_to_db.py:53-77). The reference's
  two-step is non-atomic — readers see an empty table mid-load; Spark's
  `INSERT OVERWRITE` / `mode("overwrite")` commits atomically, a
  deliberate documented improvement (SURVEY.md §7.4).
- **auto-create** (S7): `to_sql` creating the table from DataFrame
  dtypes (uploads/excel_to_db.py:74) → `saveAsTable` on first write.
- **upsert** (`INSERT OR REPLACE`, web_scheduler.py:4510-4513): with no
  Delta in this environment, MERGE is a keyed anti-join +
  union-overwrite. At 100 TB you'd use Delta/Iceberg `MERGE INTO`
  (partition-pruned, file-level rewrite); the anti-join form here has
  the same one-shuffle cost profile keyed on the merge keys.

All writers target **managed tables** (the session's
`spark.sql.warehouse.dir`) so the DDL/DML surface (§2.9) operates on
the same catalog.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession


def ensure_table(df: DataFrame, table: str) -> bool:
    """Create ``table`` from ``df``'s schema if absent (S7 auto-create,
    uploads/excel_to_db.py:74 — "如果目标表不存在，程序会自动创建").
    Returns True if the table was created."""
    spark = df.sparkSession
    if spark.catalog.tableExists(table):
        return False
    # empty write materializes schema + table metadata without data
    df.limit(0).write.format("parquet").saveAsTable(table)
    return True


def append(df: DataFrame, table: str) -> None:
    """S5 batch-insert append. Auto-creates on first write (S7).
    Column order is aligned by name (`unionByName` semantics) — the
    reference aligns by explicit column list (web_scheduler.py:4413)."""
    spark = df.sparkSession
    created = ensure_table(df, table)
    target_cols = spark.table(table).columns if not created else df.columns
    writer = df.select(*target_cols).write.format("parquet").mode("append")
    if not created:
        n_buckets, bucket_cols, sort_cols = _bucket_spec(spark, table)
        if n_buckets:  # appends must match the table's bucket layout
            writer = writer.bucketBy(n_buckets, *bucket_cols)
            if sort_cols:
                writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
    spark.catalog.refreshTable(table)


def append_row(spark: SparkSession, table: str, values: tuple) -> None:
    """Append ONE row to an existing table, values in column order —
    the reference's per-event audit `INSERT INTO ... VALUES`
    (web_scheduler.py:1099-1115, :1129-1144).

    An inline VALUES list is a driver-side LocalRelation, so the
    insert is one single-task write job and one file;
    ``createDataFrame([row]).write.insertInto`` goes through a Python
    list → RDD conversion and leaves two files per row, at ~0.5 s a row.
    Every value is a bound parameter, never SQL text, so error messages
    with quotes, semicolons or ``:name`` land verbatim. Naive
    ``datetime`` values are bound as text and cast to TIMESTAMP_NTZ: a
    bound Python datetime is a session-time-zone TIMESTAMP and would
    land shifted by the session offset."""
    import datetime as _dt

    slots, args = [], {}
    for i, v in enumerate(values):
        if isinstance(v, _dt.datetime):
            slots.append(f"CAST(:p{i} AS TIMESTAMP_NTZ)")
            v = v.isoformat(sep=" ")
        else:
            slots.append(f":p{i}")
        args[f"p{i}"] = v
    spark.sql(f"INSERT INTO {table} VALUES ({', '.join(slots)})", args=args)


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
    if ensure_table(df, table):
        df.write.format("parquet").mode("append").saveAsTable(table)
        spark.catalog.refreshTable(table)
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
    aligned.write.format("parquet").mode("append").saveAsTable(table)
    spark.catalog.refreshTable(table)
    return [f.name for f in new_fields]


def truncate_load(df: DataFrame, table: str) -> None:
    """S6 truncate-and-load full refresh, atomically: one overwrite
    commit instead of the reference's DELETE-then-append window
    (uploads/excel_to_db.py:70-74). An existing table's bucket/sort
    layout survives the refresh."""
    spark = df.sparkSession
    writer = df.write.format("parquet").mode("overwrite")
    if spark.catalog.tableExists(table):
        n_buckets, bucket_cols, sort_cols = _bucket_spec(spark, table)
        if n_buckets:
            writer = writer.bucketBy(n_buckets, *bucket_cols)
            if sort_cols:
                writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
    spark.catalog.refreshTable(table)


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
            df.write.format("parquet").mode(mode).partitionBy(
                *partition_cols
            ).saveAsTable(table)


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
    writer = df.write.format("parquet").mode("overwrite").bucketBy(
        n_buckets, *bucket_keys
    )
    if sort_keys:
        writer = writer.sortBy(*sort_keys)
    writer.saveAsTable(table)


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
    out.sortWithinPartitions(*sort_cols).write.format("parquet").mode(
        "overwrite"
    ).saveAsTable(table)
    df.sparkSession.catalog.refreshTable(table)


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
    output). Unpartitioned tables fall back to the full staged
    rewrite. On Delta/Iceberg this whole function is `MERGE INTO`."""
    spark = df.sparkSession
    if ensure_table(df, table):
        df.write.format("parquet").mode("append").saveAsTable(table)
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
        _overwrite_self(merged, table)


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
        kept = target.filter(~cond_true)
        _overwrite_self(kept, table)
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

    Partition-scoped when the table is partitioned AND no assignment
    targets a partition column (rows can't migrate partitions); else
    full staged rewrite."""
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

    if pcols and not (set(assignments) & set(pcols)):
        touched = target.filter(cond).select(*pcols).distinct().collect()
        updated = apply_set(target.filter(_partition_predicate(touched, pcols)))
        _overwrite_partitions(updated, table, pcols, touched)
    else:
        _overwrite_self(apply_set(target), table)
    return n


def _staging_name(table: str) -> str:
    """Collision-proof staging table, qualified into the TARGET's
    database (an unqualified name would land in the current database;
    a hash(table)-derived one collides across concurrent DML runs)."""
    import uuid

    db, _, name = table.rpartition(".")
    stage = f"__stage_{name}_{uuid.uuid4().hex[:12]}"
    return f"{db}.{stage}" if db else stage


def _bucket_spec(spark: SparkSession, table: str) -> tuple[int, list[str], list[str]]:
    """(num_buckets, bucket_cols, sort_cols) of a catalog table —
    (0, [], []) when unbucketed. Parsed from DESCRIBE FORMATTED."""
    rows = {r.col_name.strip(): r.data_type for r in
            spark.sql(f"DESCRIBE FORMATTED {table}").collect()}
    n = rows.get("Num Buckets")
    if not n:
        return 0, [], []

    def cols(v: str | None) -> list[str]:
        v = (v or "").strip().strip("[]")
        return [c.strip().strip("`") for c in v.split(",") if c.strip()]

    return int(n), cols(rows.get("Bucket Columns")), cols(rows.get("Sort Columns"))


def _overwrite_self(df: DataFrame, table: str) -> None:
    """Overwrite ``table`` with a plan that reads from it: stage the
    rows into a temp table, then overwrite from the staged copy —
    PRESERVING the table's bucketing/sort layout (a plain overwrite
    would silently drop the bucket spec, and with it every
    zero-shuffle join downstream).

    On Delta/Iceberg this whole helper disappears (native DML with
    snapshot isolation); parquet managed tables need the staging hop
    because the lazy plan would otherwise read partially-deleted
    files mid-overwrite."""
    spark = df.sparkSession
    n_buckets, bucket_cols, sort_cols = _bucket_spec(spark, table)
    staging = _staging_name(table)
    df.write.format("parquet").mode("overwrite").saveAsTable(staging)
    try:
        writer = spark.table(staging).write.format("parquet").mode("overwrite")
        if n_buckets:
            writer = writer.bucketBy(n_buckets, *bucket_cols)
            if sort_cols:
                writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table)
        # any cached plan/file-listing for the table now points at
        # replaced files — refresh so OTHER sessions/plans (e.g. the
        # main session after a foreachBatch clone ran this DML) reread
        spark.catalog.refreshTable(table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {staging}")


def _overwrite_partitions(
    df: DataFrame, table: str, pcols: list[str], touched: list
) -> None:
    """Commit ``df`` (the post-DML contents of the ``touched``
    partitions) into ``table``, replacing ONLY those partitions:

    1. stage ``df`` (it reads from ``table`` — same self-read hazard
       as `_overwrite_self`, but the staged volume is just the
       affected partitions, not the table);
    2. dynamic-partition-overwrite insertInto — partitions present in
       the staged output are atomically swapped, all others untouched;
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
    out.sortWithinPartitions("_zkey").drop("_zkey").write.format(
        "parquet"
    ).mode("overwrite").saveAsTable(table)
    df.sparkSession.catalog.refreshTable(table)
