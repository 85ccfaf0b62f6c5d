"""Query registry — the single source of truth wiring operator
implementations to the driver contract (``__spark_entry__.py``).

Each operator family from SURVEY.md §2 registers one or more named
queries here. A query = a Spark callable ``(spark, sf_dir) ->
DataFrame`` plus (where SQL-expressible) an equivalent ANSI-SQL oracle
string that DuckDB runs on the same parquet fixtures. Column names are
aligned on both sides because the driver's comparator sorts columns by
name before hashing values.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from etl_spark.session import scoped_session

QueryFn = Callable[[SparkSession, str], DataFrame]

# Runtime session confs every registered query's semantics depend on.
# The driver runs queries inside ITS OWN SparkSession (see
# __spark_entry__.py) — nothing guaranteed the session timezone there,
# and CORRECTNESS_r10 showed x111/e13 flipping on to_date /
# unix_timestamp under a session config our builder never reproduces
# (VERDICT r10 "What's wrong" #1). Timezone-aware expressions resolve
# the session TZ at ANALYSIS time (Catalyst's ResolveTimeZone rule)
# from the session the plan is bound to, so running the callable on a
# child session carrying these pins fixes its semantics through the
# driver's later collect() without touching the caller's session. ANSI
# is pinned to the Spark 4.x default the whole suite is developed and
# tested under, so cast/overflow/dividing semantics cannot drift with
# the host session either.
_SESSION_PINS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "true",
}


def _pin_session(fn: QueryFn) -> QueryFn:
    """Wrap a query fn so every invocation runs on a child of the
    caller's session carrying ``_SESSION_PINS``
    (session.scoped_session). Every registered query shares that one
    child per caller; partition sizing is left to AQE's defaults."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf: str) -> DataFrame:
        return fn(scoped_session(spark, _SESSION_PINS), sf)

    return run


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name``.

    The registered callable is wrapped by ``_pin_session``: it runs on
    a cached child of the caller's SparkSession carrying
    ``_SESSION_PINS``, and the returned frame is bound to that child,
    so the pins hold through the caller's ``collect()`` while the
    caller's confs are never written. Caller confs changed after the
    first registered call on a session do not reach later registered
    queries (the child is cloned once).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=_pin_session(fn),
            oracle=oracle,
            tags=tuple(tags),
            doc=doc or (fn.__doc__ or ""),
        )
        return fn

    return deco


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent).

    Registration order is the tie-break of the driver window
    (``all_specs``) among queries last checked in the same round, and
    the whole order when no snapshot exists. The extension + advanced
    modules register FIRST so never-checked families lead; the
    relational/scalar/analytics families follow."""
    import etl_spark.extensions.dedup  # noqa: F401
    import etl_spark.extensions.similarity  # noqa: F401
    import etl_spark.extensions.textstats  # noqa: F401
    import etl_spark.extensions.multimodal  # noqa: F401
    import etl_spark.extensions.pipeline  # noqa: F401
    import etl_spark.extensions.corpus  # noqa: F401
    import etl_spark.extensions.resampling  # noqa: F401
    import etl_spark.extensions.sketches  # noqa: F401
    import etl_spark.extensions.textindex  # noqa: F401
    import etl_spark.extensions.graph  # noqa: F401
    import etl_spark.extensions.fuzzy  # noqa: F401
    import etl_spark.quality  # noqa: F401  (registers x87)
    import etl_spark.operators.advanced  # noqa: F401
    import etl_spark.operators.analytics_more  # noqa: F401
    import etl_spark.operators.analytics_ext  # noqa: F401
    import etl_spark.operators.event_analytics  # noqa: F401
    import etl_spark.operators.statistics  # noqa: F401
    import etl_spark.operators.bloomjoin  # noqa: F401
    import etl_spark.operators.scd  # noqa: F401  (registers x91)
    import etl_spark.operators.relational  # noqa: F401
    import etl_spark.operators.scalar_functions  # noqa: F401
    import etl_spark.operators.analytics  # noqa: F401
    import etl_spark.operators.skew  # noqa: F401
    import etl_spark.sources.skipquery  # noqa: F401  (registers x141)


# Directory of the committed driver snapshots ``CORRECTNESS_r<N>.json``
# (the repository root, beside the package).
SNAPSHOT_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_checked_rounds() -> dict[str, int]:
    """Each query's newest driver round: the highest ``N`` among the
    ``CORRECTNESS_r<N>.json`` snapshots in ``SNAPSHOT_DIR`` that hold
    a row for it. Read afresh on every call, so committing a snapshot
    rotates the driver window with no source edit."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(SNAPSHOT_DIR, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        with open(path) as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, -1), int(m.group(1)))
    return last


def all_specs() -> dict[str, QuerySpec]:
    """All registered specs, driver-window order. Each spec's ``fn``
    runs on a pinned child of the session it is called with and
    returns a frame bound to that child (see ``register``).

    The driver's correctness snapshot covers only the FIRST 50 queries
    of this order, so it is oldest-first (tests/test_window_rotation.py):
    oracle-backed queries lead (an ``oracle=None`` query's rows-only
    check would waste a slot), then the least recently driver-checked
    (never checked = -1), then registration order."""
    _ensure_loaded()
    last = _last_checked_rounds()
    names = sorted(
        _REGISTRY, key=lambda n: (_REGISTRY[n].oracle is None, last.get(n, -1))
    )
    return {n: _REGISTRY[n] for n in names}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None
    }
