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
    # AQE partition-coalescing mode: every query starts from the Spark
    # default (true = maximize parallelism) whatever the host session
    # says; ADVISORY_COALESCE overrides it per query.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
}


# Per-query override for shuffle-COUNT-dominated plans (guide §2.2
# "fewer, larger reduce partitions"): honor
# advisoryPartitionSizeInBytes instead of spreading every tiny shuffle
# across all cores as sliver partitions — the Spark-docs-recommended
# production mode, and 100 TB-correct for SKETCH-sized reduce sides
# (KMV registers, CMS rows, bottom-k heaps, posting aggregates) whose
# state never grows with the corpus. PERF_r15 measured those queries
# 1.7–3.7x FASTER at 8 cores than 32 under the default; x85's ~70
# small PageRank exchanges gained 0.72–0.91 (r15 A/B, identical rows).
ADVISORY_COALESCE: dict[str, str] = {
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
}


def _pin_session(
    fn: QueryFn, session_confs: dict[str, str] | None = None
) -> QueryFn:
    """Wrap a query fn so every invocation runs on a child of the
    caller's session carrying ``_SESSION_PINS`` plus the spec's
    per-query ``session_confs`` overrides (session.scoped_session)."""
    pins = {**_SESSION_PINS, **(session_confs or {})}

    @functools.wraps(fn)
    def run(spark: SparkSession, sf: str) -> DataFrame:
        return fn(scoped_session(spark, pins), sf)

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
    session_confs: dict[str, str] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name``.

    The registered callable is wrapped by ``_pin_session``: it runs on
    a cached child of the caller's SparkSession carrying
    ``_SESSION_PINS`` plus ``session_confs``, and the returned frame is
    bound to that child, so the pins hold through the caller's
    ``collect()`` while the caller's confs are never written. Caller
    confs changed after the first registered call on a session do not
    reach later registered queries (the child is cloned once).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=_pin_session(fn, session_confs),
            oracle=oracle,
            tags=tuple(tags),
            doc=doc or (fn.__doc__ or ""),
        )
        return fn

    return deco


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent).

    ORDER MATTERS for the driver's correctness snapshot: r1 recorded
    exactly the first 50 registered queries (insertion order), leaving
    the extensions/advanced families without driver rows despite all
    passing the identical local oracle gate. The extension + advanced
    modules therefore register FIRST so the driver's hard signal
    covers them; the relational/scalar/analytics families (all 50
    green in CORRECTNESS_r01.json) follow."""
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


# The driver's correctness snapshot covers only the FIRST 50 registered
# queries per round (insertion order). This list pins the front of the
# window each round so hard-signal rows land where they're most needed;
# unlisted queries follow in module-registration order.
#
# Rotation policy (enforced by tests/test_window_rotation.py, not just
# this comment — VERDICT r6 "Next round" #3): oldest-first dominance.
# Never-driver-checked queries count as infinitely stale and lead; then
# queries whose last CORRECTNESS row is oldest; ``oracle=None`` queries
# never occupy a slot (their rows-only check is a permanent weak
# signal — burning a hard-signal slot on them is waste, r5 lesson).
#
# Round-15 window (tools/rotate_window.py output + VERDICT r14 #1):
#   the ENTIRE 46-query r10-stale cohort (x72/x48 lead as the r14
#   runners-up, then the media/curation/warehouse/graph/event rows,
#   oldest-first in registration order) plus the round's new
#   registrations, which are never-driver-checked and lead per policy
#   rule 1 (they displace the 4 r11-stale dedup heads that pad the
#   tail until the new queries land). After this round nothing
#   registered is last-green before r11 (VERDICT r14 #1's done bar).
_DRIVER_WINDOW_PRIORITY: tuple[str, ...] = (
    # -- last green r10 (the r15 rotation cohort, registration order)
    "x72_incremental_knn_join",
    "x48_quality_gate_agreement",
    "x107_bigram_pmi",
    "x15_media_decode",
    "x95_image_neardup",
    "x104_image_dup_clusters",
    "x101_incremental_image_neardup",
    "x99_media_resize",
    "x100_frame_stats",
    "x16_binary_meta",
    "x25_decontaminate",
    "x45_split_token_budget",
    "x47_curated_corpus",
    "x49_multimodal_curated",
    "x50_segment_dedup",
    "x51_temperature_mix_sample",
    "x52_training_order",
    "x54_lm_quality_score",
    "x55_split_leakage",
    "x114_bitmap_distinct",
    "x116_rolling_distinct",
    "x106_bm25_search",
    "x115_triangle_clustering",
    "x117_bfs_levels",
    "a07_rollup",
    "a08_count_distinct",
    "j08_range_join",
    "f10_explode_unnest",
    "w05_ntile_quartiles",
    "w06_trailing_window",
    "x96_cohort_ltv",
    "x97_inventory_aging",
    "x98_abc_pareto",
    "x102_new_vs_returning",
    "x103_interpurchase_gaps",
    "x105_ship_sla_monthly",
    "x118_peak_active_orders",
    "e10_weekly_retention",
    "e11_windowed_conversion",
    "e12_time_to_convert",
    "e14_dau_wau_stickiness",
    "x108_revenue_trend",
    "x110_corr_matrix",
    "x112_mad_outliers",
    "x119_price_histogram",
    "x120_weighted_percentiles",
    # -- r15 registrations (never driver-checked, policy rule 1)
    "x141_skip_scan",
    "x142_inventory_turns",
    "x143_backlog_aging",
    "x144_supplier_leadtime",
)
# Queries whose SEMANTICS changed this round and therefore justify a
# window slot even though their last driver row is recent (the r5
# de-vacuification precedent). tests/test_window_rotation.py exempts
# these from the oldest-first dominance check; clear it when the
# re-verification lands.
REVERIFY_THIS_ROUND: frozenset[str] = frozenset(
    # empty this round: x22's oracle-backed re-verification landed in
    # CORRECTNESS_r13 (50/50 green), so no query's semantics justify a
    # slot ahead of the oldest-first ranking
    ()
)


def all_specs() -> dict[str, QuerySpec]:
    """All registered specs, driver-window order. Each spec's ``fn``
    runs on a pinned child of the session it is called with and
    returns a frame bound to that child (see ``register``)."""
    _ensure_loaded()
    # A typo'd or renamed entry would silently fall out of the window
    # instead of pinning it — fail loudly instead (ADVICE r3).
    unknown = set(_DRIVER_WINDOW_PRIORITY) - set(_REGISTRY)
    if unknown:
        raise ValueError(
            f"_DRIVER_WINDOW_PRIORITY names not in the registry: {sorted(unknown)}"
        )
    # the list IS the 50-slot window: fewer wastes hard-signal slots on
    # whatever registers first; more silently pushes the tail past the
    # driver's cutoff while looking pinned
    if len(_DRIVER_WINDOW_PRIORITY) != 50:
        raise ValueError(
            f"_DRIVER_WINDOW_PRIORITY must name exactly the 50 driver "
            f"window slots, got {len(_DRIVER_WINDOW_PRIORITY)}"
        )
    prio = {n: i for i, n in enumerate(_DRIVER_WINDOW_PRIORITY)}
    order = {n: i for i, n in enumerate(_REGISTRY)}
    names = sorted(_REGISTRY, key=lambda n: (prio.get(n, len(prio)), order[n]))
    return {n: _REGISTRY[n] for n in names}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None
    }
