"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the local[N] test harness but documented for a
1000-executor cluster: AQE owns runtime re-planning (partition
coalescing, skew-join splitting), shuffle partitions default to a
multiple of parallelism, and Arrow is on for every pandas boundary.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

# Session-wide defaults. Rationale per key:
#  - adaptive.*: AQE re-plans at runtime (coalesces small shuffle
#    partitions, converts to broadcast join when a side turns out
#    small, splits skewed partitions). At 100 TB this is the main
#    defense against static misestimates.
#  - shuffle.partitions: local default; on a real cluster set to
#    2-3x total executor cores (the orchestrator exposes it).
#  - session.timeZone=UTC: the reference stores naive "UTC+8" strings
#    (web_scheduler.py:722-733); we normalize to UTC and convert at
#    the edges so timestamp semantics are unambiguous.
#  - arrow enabled: every toPandas()/applyInPandas boundary is
#    Arrow-batched, never row-at-a-time pickling.
#  - codegen.cache.maxEntries: Spark's generated-code cache (default
#    100 classes) is an LRU, and a cyclic LRU over a working set larger
#    than its bound never hits. At sf0.001 the 240 registered queries
#    generate 2,815 distinct classes, the six perfbench `queries` 132.
#    On 4 cores, a second pass over the registry with an unbounded
#    cache compiled 38 classes in 85.4 s; at the default it recompiled
#    4,167 in 108.8 s, and the JIT then compiled the fresh classes
#    again. Metaspace was 218 MB against 200 MB. The conf is static: it is
#    read when the JVM's first SparkContext starts, so a session built
#    elsewhere before get_spark keeps Spark's 100.
#  - filesourceTableRelationCacheSize=0: every query re-resolves a table's
#    location, so it reads what another session's `writers._commit` swapped
#    in. Static: a context built before get_spark needs REFRESH TABLE.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.codegen.cache.maxEntries": "4096",
    "spark.sql.filesourceTableRelationCacheSize": "0",
    # INT64 TIMESTAMP(NANOS) parquet columns read as raw int64 nanos
    # (Spark refuses them otherwise); no other column type changes
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster leave it unset and let spark-submit supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Child sessions by (caller sessionUUID, conf set), least recently used
# first; reuse keeps tables._SCAN_CACHE (keyed per session) hitting.
_CHILDREN: OrderedDict[tuple[str, frozenset], SparkSession] = OrderedDict()
_CHILDREN_MAX = 32
_CHILDREN_LOCK = threading.Lock()


def scoped_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A child of ``spark`` running under ``confs``, so work can scope
    confs without writing them into a session other threads share.

    ``cloneSession()`` copies the caller's confs, temp views and UDFs
    (``newSession()`` would drop its runtime confs) and shares its
    SparkContext, catalog and cache manager. ``confs`` are set once,
    when the child is made; the child is reused for the same (caller,
    confs), so later changes to the caller's confs do not reach it."""
    key = (str(spark._jsparkSession.sessionUUID()), frozenset(confs.items()))
    with _CHILDREN_LOCK:
        child = _CHILDREN.get(key)
        if child is None:
            child = SparkSession(
                spark.sparkContext, spark._jsparkSession.cloneSession()
            )
            for k, v in confs.items():
                child.conf.set(k, v)
            if len(_CHILDREN) >= _CHILDREN_MAX:
                _CHILDREN.popitem(last=False)
            _CHILDREN[key] = child
        _CHILDREN.move_to_end(key)
        return child


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``session``: it plans and
    runs under that session's confs, and reuses persisted or
    checkpointed data through the shared cache manager."""
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, session)
