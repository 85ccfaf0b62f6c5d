"""Plan-shape anti-patterns, read through ``plans.inspect``.

The plan lock (tests/test_plan_lock.py) bars the high-severity nodes
from every registered plan by ``node_count`` over the formatted
explain. Each test here builds a plan that exhibits one pattern and
shows that the same read sees it, so a zero in the lock means the node
is absent, not that the parser missed it.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from etl_spark.plans.inspect import formatted_plan, node_count
from etl_spark.registry import all_specs
from etl_spark.tables import load

from tests.test_plans import plan_of

SPECS = all_specs()


def _unpushed_scans(plan: str) -> int:
    """Parquet scans that pushed no predicate. Spark prints
    ``PushedFilters: []`` for such a scan, or drops the line."""
    blocks = [b for b in plan.split("\n\n(") if re.match(r"\d+\) Scan parquet", b)]
    return sum(not re.search(r"PushedFilters: \[.+\]", b) for b in blocks)


def test_headline_queries_lint_clean(spark, sf_dir):
    """The flagship pipeline shapes plan no cartesian, nested-loop or
    row-at-a-time Python node, and at most six shuffles."""
    for name in ("q01_pricing_summary", "q05_region_revenue",
                 "x114_bitmap_distinct", "x109_hll_distinct"):
        plan = plan_of(spark, sf_dir, name)
        for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"):
            assert node_count(plan, node) == 0, f"{name}: {node}"
        assert node_count(plan, "Exchange") <= 6, name


def test_cartesian_flagged(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    # two large sides, no key, no broadcast hint -> CartesianProduct
    bad = li.crossJoin(o.hint("shuffle_replicate_nl"))
    assert node_count(formatted_plan(bad), "CartesianProduct") >= 1


def test_nested_loop_reviewed_for_totals_pattern(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    tot = o.agg(F.count(F.lit(1)).alias("n"))
    df = o.crossJoin(F.broadcast(tot))
    plan = formatted_plan(df)
    assert node_count(plan, "BroadcastNestedLoopJoin") >= 1
    assert node_count(plan, "CartesianProduct") == 0


def test_python_udf_flagged(spark, sf_dir):
    from pyspark.sql.functions import udf

    slow = udf(lambda s: (s or "").upper())
    df = load(spark, sf_dir, "part").select(slow("p_name").alias("u"))
    assert node_count(formatted_plan(df), "BatchEvalPython") >= 1


def test_unpushed_filter_flagged(spark, sf_dir):
    from pyspark.sql.functions import udf

    pred = udf(lambda s: bool(s and s.startswith("g")), "boolean")
    df = load(spark, sf_dir, "part").filter(pred("p_name"))
    assert _unpushed_scans(formatted_plan(df)) == 1
    # the same predicate as a builtin pushes down (StartsWith)
    good = load(spark, sf_dir, "part").filter(F.col("p_name").startswith("g"))
    assert _unpushed_scans(formatted_plan(good)) == 0


def test_unpushed_filter_found_past_first_pushed_scan(spark, sf_dir):
    """A two-scan plan whose first scan pushes its predicate and whose
    second (UDF predicate) cannot shows exactly one unpushed scan."""
    from pyspark.sql.functions import udf

    pred = udf(lambda s: bool(s and s.startswith("g")), "boolean")
    good = load(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("g")
    ).select(F.col("p_name").alias("name"))
    bad = load(spark, sf_dir, "supplier").filter(pred("s_name")).select(
        F.col("s_name").alias("name")
    )
    # union (not join): a join would push IsNotNull into the second scan
    plan = formatted_plan(good.unionAll(bad))
    assert node_count(plan, "Scan parquet") == 2
    assert _unpushed_scans(plan) == 1


def test_wide_scan_flagged(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    wide = li.join(
        load(spark, sf_dir, "orders"), li.l_orderkey == F.col("o_orderkey")
    ).join(
        load(spark, sf_dir, "part"), li.l_partkey == F.col("p_partkey")
    )
    # no projection anywhere: the scans read every column
    widths = [
        s.count(",") + 1
        for s in re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(wide))
    ]
    assert max(widths) > 10, widths


def test_many_exchanges_threshold(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    # three distinct shuffle keys: custkey agg -> count agg -> sort
    df = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("m"))
        .orderBy("m")
    )
    assert node_count(formatted_plan(df), "Exchange") >= 3


@pytest.mark.parametrize("name", sorted(SPECS))
def test_no_registered_query_has_high_severity_findings(spark, sf_dir, name):
    """No registered query plans a CartesianProduct or a row-at-a-time
    Python UDF."""
    plan = plan_of(spark, sf_dir, name)
    assert node_count(plan, "CartesianProduct") == 0, name
    assert node_count(plan, "BatchEvalPython") == 0, name


def test_repeated_scan_flagged(spark, sf_dir):
    """Spark re-reads the files for every reference to a relation:
    three references plan three scans, the anchor pattern two."""
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    three = o.unionAll(o).unionAll(o)
    assert node_count(formatted_plan(three), "Scan parquet") == 3

    anchor = load(spark, sf_dir, "orders").agg(
        F.max("o_orderkey").alias("mx")
    )
    two = load(spark, sf_dir, "orders").crossJoin(F.broadcast(anchor))
    assert node_count(formatted_plan(two), "Scan parquet") == 2


def test_scan_locations_full_path_and_truncation():
    """Scans count by their numbered headers, so a scan whose Location
    line was elided by formatted explain still counts."""
    plan = (
        "(1) Scan parquet\n"
        "Location: InMemoryFileIndex [file:/base/orders.parquet]\n"
        "(2) Scan parquet\n"
        "Location: InMemoryFileIndex [file:/tmp/replica_7/orders.parquet]\n"
        "(3) Scan parquet\n"
        "Location: InMemoryFileIndex [file:/base/orders.parquet]\n"
        "(4) Scan parquet\n"
        "Location: InMemoryFileIndex [file:/very/long/path/that/got/elid\n"
    )
    assert node_count(plan, "Scan parquet") == 4
