"""Session-conf scoping of the CC fixpoint and the pinned registry
queries.

connected_components runs its rounds on a child session with AQE off
and a pinned partition count; registered queries run on a child
carrying the registry pins. Either way the caller's confs are never
written, and the returned frame's session carries the confs it ran
under.
"""

from __future__ import annotations

from etl_spark.extensions.dedup import connected_components
from etl_spark.registry import _SESSION_PINS, ADVISORY_COALESCE, all_specs

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


def test_x85_pin_stays_on_its_child(spark, sf_dir):
    specs = all_specs()
    before = dict(spark.conf.getAll)
    df = specs["x85_pagerank_trade_graph"].fn(spark, sf_dir)
    df.collect()
    assert df.sparkSession is not spark
    assert df.sparkSession.conf.get(PF) == "false"
    assert dict(spark.conf.getAll) == before


def test_sketch_family_advisory_override(spark, sf_dir):
    """Sketch-family queries run under advisory-size AQE coalescing
    (registry.ADVISORY_COALESCE) on their own child session; queries
    the A/B rejected stay on the default pins."""
    specs = all_specs()
    before = dict(spark.conf.getAll)
    sketch = specs["x76_kmv_distinct_customers"].fn(spark, sf_dir)
    assert sketch.sparkSession.conf.get(PF) == ADVISORY_COALESCE[PF]
    plain = specs["x89_substring_dup_coverage"].fn(spark, sf_dir)
    for k, v in _SESSION_PINS.items():
        assert plain.sparkSession.conf.get(k) == v
    assert plain.sparkSession is not sketch.sparkSession
    assert dict(spark.conf.getAll) == before
