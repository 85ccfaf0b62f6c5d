"""Spark's generated-code cache holds the registry's working set, so a
warm pass over the same queries compiles nothing.

The cache is an LRU bounded by ``spark.sql.codegen.cache.maxEntries``
(Spark's default is 100). The six perfbench queries alone generate
about 130 classes, so at the default every pass over them evicted and
recompiled almost all of them.
"""

from __future__ import annotations

from etl_spark.registry import all_specs
from etl_spark.session import _DEFAULTS

KEY = "spark.sql.codegen.cache.maxEntries"
QUERIES = (
    "j03_left_outer", "q07_nation_volume", "e12_time_to_convert",
    "x119_price_histogram", "x31_quality_percentile_gate",
    "x69_cluster_size_histogram",
)


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_pass_compiles_nothing(spark, sf_dir):
    specs = all_specs()
    for name in QUERIES:  # the cold pass compiles what it needs
        specs[name].fn(spark, sf_dir).collect()
    before = _compilations(spark)
    for name in QUERIES:
        specs[name].fn(spark, sf_dir).collect()
    assert _compilations(spark) == before


def test_context_runs_with_the_default_cache_size(spark):
    assert spark.sparkContext.getConf().get(KEY) == _DEFAULTS[KEY]
