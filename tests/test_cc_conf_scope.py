"""Session-conf scoping of the CC fixpoint and the pinned registry
queries.

connected_components runs its rounds on a child session with AQE off
and a pinned partition count; every registered query runs on one child
per caller carrying the registry pins. Either way the caller's confs
are never written, and the returned frame's session carries the confs
it ran under.
"""

from __future__ import annotations

from etl_spark.extensions.dedup import connected_components
from etl_spark.registry import _SESSION_PINS, all_specs

PF = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


def test_cc_restores_parallelism_first(spark):
    spark.conf.set(PF, "true")
    before = dict(spark.conf.getAll)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    labels = connected_components(pairs)
    assert {(r["doc_id"], r["lbl"]) for r in labels.collect()} == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)
    }
    assert dict(spark.conf.getAll) == before
    # the labels are rebound to the caller: they plan under its AQE
    assert labels.sparkSession is spark


def test_cc_restores_nondefault_value_too(spark):
    spark.conf.set(PF, "false")
    try:
        pairs = spark.createDataFrame([(5, 6)], ["doc_a", "doc_b"])
        connected_components(pairs).collect()
        assert spark.conf.get(PF) == "false"
    finally:
        spark.conf.set(PF, "true")


def _frames_share_one_pinned_child(spark, sf_dir, names):
    specs = all_specs()
    before = dict(spark.conf.getAll)
    frames = [specs[n].fn(spark, sf_dir) for n in names]
    frames[0].collect()
    child = frames[0].sparkSession
    assert child is not spark
    assert all(df.sparkSession is child for df in frames)
    for k, v in _SESSION_PINS.items():
        assert child.conf.get(k) == v
    assert dict(spark.conf.getAll) == before


def test_x85_pin_stays_on_its_child(spark, sf_dir):
    _frames_share_one_pinned_child(
        spark, sf_dir, ["x85_pagerank_trade_graph", "x76_kmv_distinct_customers",
                        "x89_substring_dup_coverage"]
    )


def test_sketch_family_advisory_override(spark, sf_dir):
    """The sketch family has no conf set of its own: x76 runs on the
    same pinned child as x85 and x89."""
    _frames_share_one_pinned_child(
        spark, sf_dir, ["x76_kmv_distinct_customers", "x85_pagerank_trade_graph",
                        "x89_substring_dup_coverage"]
    )
