"""One commit for every rewrite of an unpartitioned catalog table:
``sources.writers._commit`` writes the new version once into its own
directory and repoints the table with ``ALTER TABLE … SET LOCATION``.
A reader on another session sees whole versions in order; a failed
swap, a schema change and a drop-and-recreate leave the catalog sane;
old versions do not pile up on disk.
"""

from __future__ import annotations

import ast
import os
import threading
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

import etl_spark
from etl_spark.maintenance import compact_table
from etl_spark.sources.writers import _VERSIONS, _default_path, append, truncate_load

PKG = Path(etl_spark.__file__).parent


@pytest.fixture()
def db(spark):
    name = "commit_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")
    yield name
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


def _rows(spark, n: int):
    return spark.range(0, n, numPartitions=4).selectExpr("id", "id % 7 AS k")


def _versions_on_disk(spark, table: str) -> list[str]:
    """The table's data directories: its default path, if present, and
    every directory under the versions root."""
    default = _default_path(spark, table).removeprefix("file:")
    root = default + _VERSIONS
    out = [default] if os.path.isdir(default) else []
    if os.path.isdir(root):
        out += sorted(os.path.join(root, d) for d in os.listdir(root))
    return out


def test_reader_on_another_session_sees_versions_in_order(spark, db):
    """10 truncate_loads, then 3 compactions (each after an append, so
    every version has its own row count): a reader counting in a loop
    on a second session never fails, never sees the count go back, and
    ends on the newest version."""
    t = f"{db}.reader_t"
    truncate_load(_rows(spark, 100), t)
    reader = spark.newSession()
    done = threading.Event()
    counts: list[int] = []
    errors: list[BaseException] = []

    def read() -> None:
        while not done.is_set():
            try:
                counts.append(reader.table(t).count())
            except Exception as ex:  # noqa: BLE001 — asserted below
                errors.append(ex)

    th = threading.Thread(target=read)
    th.start()
    try:
        for i in range(1, 11):
            truncate_load(_rows(spark, 100 + 10 * i), t)
        n = 200
        for i in range(3):
            append(_rows(spark, 5 + i), t)
            n += 5 + i
            assert compact_table(spark, t)["partitions_compacted"] == 1
    finally:
        done.set()
        th.join(120)
    assert not th.is_alive()
    assert not errors, errors[:3]
    assert len(counts) > 10
    assert counts == sorted(counts)
    assert reader.table(t).count() == n == spark.table(t).count()


def test_failed_swap_leaves_old_rows_and_no_transient_table(spark, db, monkeypatch):
    t = f"{db}.fault_t"
    truncate_load(_rows(spark, 30), t)
    truncate_load(_rows(spark, 40), t)
    before = _versions_on_disk(spark, t)
    real_sql = SparkSession.sql

    def sql(self, query, *args, **kwargs):
        if "SET LOCATION" in query:
            raise RuntimeError("injected: catalog update failed")
        return real_sql(self, query, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", sql)
    with pytest.raises(RuntimeError, match="injected"):
        truncate_load(_rows(spark, 50), t)
    monkeypatch.undo()
    assert spark.table(t).count() == 40
    assert [x.name for x in spark.catalog.listTables(db) if not x.isTemporary] == ["fault_t"]
    assert _versions_on_disk(spark, t) == before  # the new version is gone


def test_ten_rewrites_keep_at_most_two_versions(spark, db):
    t = f"{db}.gc_t"
    for i in range(11):
        truncate_load(_rows(spark, 10 + i), t)
    dirs = _versions_on_disk(spark, t)
    assert len(dirs) <= 2, dirs
    assert spark.table(t).count() == 20


@pytest.mark.parametrize("swaps", [1, 2])
def test_drop_and_recreate_after_swaps(spark, db, swaps):
    t = f"{db}.recreate_{swaps}"
    for i in range(swaps + 1):
        truncate_load(_rows(spark, 10 + i), t)
    spark.sql(f"DROP TABLE {t}")
    truncate_load(_rows(spark, 3), t)
    assert spark.table(t).count() == 3
    spark.sql(f"DROP TABLE {t}")
    spark.sql(f"CREATE TABLE {t} USING parquet AS SELECT 1 AS id")
    assert spark.table(t).count() == 1


def test_truncate_load_takes_the_new_schema(spark, db):
    t = f"{db}.schema_t"
    truncate_load(_rows(spark, 10), t)
    wider = _rows(spark, 12).selectExpr("id", "CAST(k AS STRING) AS k", "id * 2 AS extra")
    truncate_load(wider, t)
    assert spark.table(t).schema.simpleString() == "struct<id:bigint,k:string,extra:bigint>"
    assert sorted(spark.table(t).collect()) == sorted(wider.collect())
    truncate_load(wider.where("id < 5"), t)  # same shape again: a plain swap
    assert spark.table(t).count() == 5


def _call_sites():
    """(file, enclosing function, kind) for each ``SET LOCATION`` string
    outside a docstring, and each ``saveAsTable`` whose writer may be in
    overwrite mode: a literal "overwrite" or a mode that is not a
    literal, followed through the function's assignments."""
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = path.relative_to(PKG).as_posix()
        fns = [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        docs = {id(f.body[0].value) for f in fns if ast.get_docstring(f) is not None}
        for fn in fns:
            assigned: dict[str, list] = {}
            for node in ast.walk(fn):
                if isinstance(node, ast.Assign):
                    for target in node.targets:
                        if isinstance(target, ast.Name):
                            assigned.setdefault(target.id, []).append(node.value)
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and "SET LOCATION" in node.value.upper()
                    and id(node) not in docs
                ):
                    yield rel, fn.name, "SET LOCATION"
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "saveAsTable"
                    and _overwrite_mode(node.func.value, assigned, frozenset())
                ):
                    yield rel, fn.name, "overwrite saveAsTable"


def _overwrite_mode(chain, assigned: dict, seen: frozenset) -> bool:
    while True:
        if isinstance(chain, ast.Call) and isinstance(chain.func, ast.Attribute):
            if chain.func.attr == "mode":
                arg = chain.args[0] if chain.args else None
                return not (isinstance(arg, ast.Constant) and arg.value != "overwrite")
            chain = chain.func.value
        elif isinstance(chain, ast.Attribute):
            chain = chain.value
        elif isinstance(chain, ast.Name) and chain.id not in seen:
            return any(
                _overwrite_mode(v, assigned, seen | {chain.id})
                for v in assigned.get(chain.id, [])
            )
        else:
            return False


def test_table_rewrites_only_through_commit():
    sites = set(_call_sites())
    assert sites == {
        ("sources/writers.py", "_commit", "SET LOCATION"),
        ("sources/writers.py", "_overwrite_partitions", "overwrite saveAsTable"),
    }
