"""Oracle parity: every registered query with an oracle must match
DuckDB on the shared parquet fixtures — same row count, same column
names, same values (order-insensitive). This mirrors the driver's
CORRECTNESS gate so failures surface locally first.
"""

from __future__ import annotations

import math
import re

import duckdb
import pytest

from etl_spark.registry import all_specs
from etl_spark.tables import TABLES

SPECS = all_specs()
ORACLE_SPECS = sorted(name for name, s in SPECS.items() if s.oracle is not None)
ROWS_ONLY_SPECS = sorted(name for name, s in SPECS.items() if s.oracle is None)


def _tiered(names):
    """Fast tier keeps a DETERMINISTIC ~25% sample of a sweep (sha1 of
    the query name — stable across runs/hosts, no time or RNG); the
    rest carries the `slow` marker and runs under
    SPARK_GRAFT_FULL_TESTS=1 (recorded before every round seal). The
    driver's own CORRECTNESS gate checks its whole 50-query window
    regardless, so the sample only needs to keep LOCAL regression
    signal alive between full runs (VERDICT r15 #2: the full suite
    outgrew the driver's pytest window)."""
    import hashlib as _h

    out = []
    for n in names:
        keep = int(_h.sha1(n.encode()).hexdigest(), 16) % 4 == 0
        out.append(n if keep else pytest.param(n, marks=pytest.mark.slow))
    return out


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(rows, colnames):
    """Sort columns by name, then rows; floats compare at FULL
    precision (shortest round-trip repr — bit-exact up to NaN
    canonicalization). The r10 gate normalized floats to 9 sig figs,
    which let four ROUND(double)/session-TZ edges pass locally and
    fail the driver's exact hash (VERDICT r10 "What's missing" #1);
    this gate is now at least as strict as the driver's."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm_val(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v)

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    out.sort()
    return [colnames[i] for i in order], out


def _assert_parity(spark, sf_dir, name):
    spec = SPECS[name]
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    con = _duck(sf_dir)
    drel = con.sql(spec.oracle)
    drows = drel.fetchall()
    dcols = list(drel.columns)
    con.close()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} (spark) vs {len(drows)} (duckdb)"
    )
    sc, sn = _normalize(srows, scols)
    dc, dn = _normalize(drows, dcols)
    mismatches = [i for i, (a, b) in enumerate(zip(sn, dn)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: "
        f"spark={sn[mismatches[0]]} duckdb={dn[mismatches[0]]} cols={sc}"
    )


@pytest.mark.parametrize("name", _tiered(ORACLE_SPECS))
def test_oracle_parity(spark, sf_dir, name):
    _assert_parity(spark, sf_dir, name)


# --- Oracle result-TYPE parity (VERDICT r11 "Next round" #1) -------------
#
# The driver hashes RESULT TYPES, not just values: CORRECTNESS_r10+r11
# showed a perfect 12/12-vs-88/88 separation — a query fails the driver's
# hash IFF its DuckDB oracle emits a HUGEINT (int128) column, because
# DuckDB types SUM(BIGINT) as HUGEINT and the driver's Arrow/pandas
# serialization of int128 differs from Spark's int64 even when every
# value is identical. The value-level gate above cannot see this (DuckDB
# fetches HUGEINT as a plain Python int), so this gate checks the
# DECLARED relation types: no HUGEINT ever, and each oracle column's
# type must map to the same hash family as the Spark column it is
# compared against (int->int64, float->float64, DECIMAL scale equal).

_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_SPARK_INT = {"tinyint", "smallint", "int", "bigint"}


def _duck_hash_family(t: str) -> str:
    u = str(t).upper()
    if u in ("HUGEINT", "UHUGEINT"):
        return "int128"
    if u in _DUCK_INT:
        return "int64"
    if u in ("FLOAT", "DOUBLE"):
        return "float64"
    if u.startswith("DECIMAL"):
        # hash family keys on SCALE: DuckDB and Spark may widen precision
        # differently through arithmetic, but a scale mismatch changes the
        # serialized digits (q14's DECIMAL-literal reorder, r11)
        return "decimal.s=" + u.rstrip(")").rsplit(",", 1)[-1].strip()
    if u in ("VARCHAR", "TEXT", "STRING", "JSON"):
        return "string"
    if u == "BOOLEAN":
        return "bool"
    if u == "DATE":
        return "date"
    if u.startswith("TIMESTAMP"):
        return "timestamp"
    if u == "BLOB":
        return "binary"
    if u.endswith("[]"):
        return "array"
    return u.lower()


def _spark_hash_family(dt: str) -> str:
    if dt in _SPARK_INT:
        return "int64"
    if dt in ("float", "double"):
        return "float64"
    if dt.startswith("decimal"):
        return "decimal.s=" + dt.rstrip(")").rsplit(",", 1)[-1].strip()
    if dt == "string":
        return "string"
    if dt == "boolean":
        return "bool"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "timestamp"
    if dt == "binary":
        return "binary"
    if dt.startswith("array"):
        return "array"
    return dt


def _assert_type_parity(
    name: str, duck_types: dict[str, str], spark_types: dict[str, str]
) -> None:
    """Pure gate over (column -> declared type) maps from both engines."""
    huge = [c for c, t in duck_types.items()
            if _duck_hash_family(t) == "int128"]
    assert not huge, (
        f"{name}: oracle columns {huge} type as HUGEINT (DuckDB types "
        f"SUM(BIGINT) as int128; the driver hashes int128 != int64 even "
        f"for identical values — CORRECTNESS_r11's 8 reds). Wrap the "
        f"aggregate in CAST(... AS BIGINT)."
    )
    assert set(duck_types) == set(spark_types), (
        f"{name}: column sets differ: oracle-only "
        f"{sorted(set(duck_types) - set(spark_types))}, spark-only "
        f"{sorted(set(spark_types) - set(duck_types))}"
    )
    mismatch = {
        c: (duck_types[c], spark_types[c])
        for c in duck_types
        if _duck_hash_family(duck_types[c]) != _spark_hash_family(spark_types[c])
    }
    assert not mismatch, (
        f"{name}: hash-family mismatch (oracle type, spark type): {mismatch}"
    )


@pytest.mark.parametrize("name", _tiered(ORACLE_SPECS))
def test_oracle_type_parity(spark, sf_dir, name):
    spec = SPECS[name]
    con = _duck(sf_dir)
    rel = con.sql(spec.oracle)
    duck_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    con.close()
    spark_types = dict(spec.fn(spark, sf_dir).dtypes)
    _assert_type_parity(name, duck_types, spark_types)


def test_type_parity_gate_catches_planted_hugeint(sf_dir):
    """Mutation test for the gate itself (VERDICT r11 #7): a bare
    integer SUM — exactly the defect that made 8 driver rows red —
    must be caught from the DECLARED types alone."""
    con = _duck(sf_dir)
    rel = con.sql("SELECT SUM(o_orderkey) AS s FROM orders")
    duck_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    con.close()
    assert str(rel.types[0]).upper() == "HUGEINT"  # the plant is real
    with pytest.raises(AssertionError, match="HUGEINT"):
        _assert_type_parity("planted", duck_types, {"s": "bigint"})


def test_type_parity_gate_catches_family_mismatch():
    with pytest.raises(AssertionError, match="hash-family mismatch"):
        _assert_type_parity(
            "planted", {"v": "DOUBLE"}, {"v": "decimal(38,6)"}
        )
    with pytest.raises(AssertionError, match="hash-family mismatch"):
        _assert_type_parity(
            "planted", {"v": "DECIMAL(38,2)"}, {"v": "decimal(38,6)"}
        )


# Session-config sensitivity sweep (VERDICT r10 "What's missing" #1):
# the driver runs every query inside ITS OWN SparkSession, so a query
# whose semantics read the session timezone (to_date / unix_timestamp /
# CAST(ts AS DATE) over the naive `ts` column) is only correct if the
# registry's _pin_session wrapper pins UTC on the session it runs on.
# Re-run the parity gate for every timestamp-touching oracle from a
# session whose TZ is deliberately skewed to Asia/Shanghai before its
# first registered call (its pinned child is cloned from that state) —
# the wrapper must win, or this catches locally what r10's driver
# caught.
_TZ_RE = re.compile(
    r"\bts\b|\bepoch\b|to_date|date_trunc|date_diff|AS DATE|::DATE"
    r"|to_timestamp|unix_timestamp|strftime|INTERVAL",
    re.IGNORECASE,
)
TZ_SENSITIVE_SPECS = [
    n for n in ORACLE_SPECS if _TZ_RE.search(SPECS[n].oracle or "")
]


@pytest.fixture(scope="module")
def skewed_spark(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
    return s


@pytest.mark.parametrize("name", TZ_SENSITIVE_SPECS)
def test_oracle_parity_under_skewed_session_tz(skewed_spark, sf_dir, name):
    if not sf_dir.rstrip("/").endswith("sf0.001"):
        pytest.skip("TZ sweep runs at the smallest SF only (config test)")
    _assert_parity(skewed_spark, sf_dir, name)


def test_registry_pins_session_confs(skewed_spark, sf_dir):
    """The wrapper itself: a registered fn's frame carries the pins,
    and the caller's session keeps its own values."""
    from etl_spark.registry import _SESSION_PINS

    before = dict(skewed_spark.conf.getAll)
    df = SPECS[ORACLE_SPECS[0]].fn(skewed_spark, sf_dir)
    for k, v in _SESSION_PINS.items():
        assert df.sparkSession.conf.get(k) == v
    assert dict(skewed_spark.conf.getAll) == before
    assert before["spark.sql.session.timeZone"] == "Asia/Shanghai"


# Queries allowed to be empty at the tiny local SF only. At sf0.01
# (the driver's correctness SF) EVERY oracle query must be non-empty —
# a hash-match on an empty result proves nothing about the operator's
# non-degenerate path (VERDICT r4 found four such vacuous greens that
# had survived since r1: p02/q03/j07/set02).
_EMPTY_OK_AT_SF0001 = {"q11_important_stock"}


@pytest.mark.parametrize("name", _tiered(ORACLE_SPECS))
def test_oracle_not_vacuous(sf_dir, name):
    if sf_dir.rstrip("/").endswith("sf0.001") and name in _EMPTY_OK_AT_SF0001:
        pytest.skip("threshold query legitimately empty at sf0.001 only")
    con = _duck(sf_dir)
    n = len(con.sql(SPECS[name].oracle).fetchall())
    con.close()
    assert n > 0, (
        f"{name}: oracle returns 0 rows at {sf_dir} — a green hash-match on an "
        f"empty result is vacuous; retune the query's literals to the fixtures"
    )


@pytest.mark.parametrize("name", ROWS_ONLY_SPECS)
def test_rows_only_runs(spark, sf_dir, name):
    df = SPECS[name].fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
