"""Plan-quality regression tests — the 100 TB survival checklist from
SURVEY.md §4/§7 as assertions over `.explain` output:

- filters reach the parquet scan (PushedFilters),
- projections prune the read schema (ReadSchema),
- dimension joins broadcast (no sort-merge of a small side),
- top-k never globally sorts (TakeOrderedAndProject),
- COUNT(*) reads zero columns.
"""

from __future__ import annotations

import pytest

from etl_spark.plans.inspect import executed_plan, formatted_plan, node_count
from etl_spark.registry import all_specs

SPECS = all_specs()


def plan_of(spark, sf_dir, name: str) -> str:
    # cold-cache plans are the canonical shape: a MATERIALIZED cache
    # (left by an earlier test of a persist()-using query) makes the
    # formatted explain print the cached child plan under every
    # InMemoryRelation occurrence, INFLATING node counts relative to
    # the lock (x54/x57 regression, r5). Clearing first makes counts
    # order-independent; tools/regen_plan_lock.py does the same.
    spark.catalog.clearCache()
    return formatted_plan(SPECS[name].fn(spark, sf_dir))


def executed_plan_of(spark, sf_dir, name: str) -> str:
    """Final (post-AQE) physical plan: run the query, then render the
    executed plan — WholeStageCodegen stages only appear here."""
    return executed_plan(SPECS[name].fn(spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "p01_eq_filter")
    assert "EqualTo(o_orderstatus,F)" in plan
    # projection pruning: only the 4 referenced columns are read
    assert (
        "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,"
        "o_orderstatus:string,o_totalprice:double>" in plan
    )


def test_q05_single_fact_shuffle_all_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q05_region_revenue")
    assert "SortMergeJoin" not in plan, "a dimension join fell back to sort-merge"
    assert node_count(plan, "BroadcastHashJoin") == 5
    assert "EqualTo(r_name,ASIA)" in plan, "region filter must push into the scan"
    # exactly one real (non-broadcast) exchange: the final aggregation
    assert node_count(plan, "Exchange") == 1


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "o01_top10_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, "top-k must not shuffle-sort the table"


def test_count_reads_no_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "a01_count_total")
    assert "ReadSchema: struct<>" in plan


def test_semi_join_stays_semi(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "j06_semi")
    assert "LeftSemi" in plan


@pytest.mark.parametrize(
    "name",
    ["q01_pricing_summary", "j02_star_3way", "x01_dedup_exact", "x13_fingerprint"],
)
def test_hot_paths_are_codegen(spark, sf_dir, name):
    """No Python in the per-row path: every one of these plans must be
    pure whole-stage-codegen (no BatchEvalPython / ArrowEvalPython /
    FlatMapsInPandas nodes)."""
    plan = executed_plan_of(spark, sf_dir, name)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert bad not in plan
    # executed plans mark codegen stages with '*(n) ' prefixes
    assert "*(" in plan, f"no whole-stage-codegen stage in:\n{plan[:500]}"


def test_range_join_broadcasts_band_table(spark, sf_dir):
    """j08: the 3-row band dimension must broadcast (nested-loop with
    the range predicate), never shuffle the fact side for the join."""
    plan = plan_of(spark, sf_dir, "j08_range_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # single real exchange: the final groupBy(band)
    assert node_count(plan, "Exchange") == 1


@pytest.mark.parametrize("name", ["x17_quality_filter", "x20_bpe_token_count"])
def test_scan_local_textops_never_shuffle(spark, sf_dir, name):
    """Quality gate and token counting are pure per-row projections —
    their plans must contain zero exchanges (at 100 TB they run at
    scan speed, embarrassingly parallel)."""
    plan = plan_of(spark, sf_dir, name)
    assert node_count(plan, "Exchange") == 0, plan
    assert "ReadSchema: struct<doc_id" in plan  # column pruning to (doc_id, text)


def test_asof_join_single_exchange(spark, sf_dir):
    """j09: the as-of carry-forward form is one shuffle on user_id —
    no join node at all."""
    plan = plan_of(spark, sf_dir, "j09_asof_join")
    assert node_count(plan, "Exchange") == 1
    for join_node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert join_node not in plan


def test_minhash_lsh_no_cartesian(spark, sf_dir):
    """x04: candidate generation must be an equi-join on band keys,
    never a cartesian/nested-loop over the corpus."""
    plan = plan_of(spark, sf_dir, "x04_minhash_lsh_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_aqe_owns_runtime_replanning(spark, sf_dir):
    """Session defaults must leave AQE active: the executed plan is
    adaptive and small shuffle partitions are runtime-coalesced (the
    main defense against static misestimates at scale)."""
    plan = executed_plan_of(spark, sf_dir, "q01_pricing_summary")
    assert "AdaptiveSparkPlan isFinalPlan=true" in plan
    assert "AQEShuffleRead coalesced" in plan


def test_q19_disjunctive_bounds_push_into_scans(spark, sf_dir):
    """Catalyst must factor single-side bounds out of the OR and push
    them into both scans (the derivable l_quantity/p_size envelopes),
    and the part side must broadcast — no fact shuffle at all."""
    plan = plan_of(spark, sf_dir, "q19_disjunctive_revenue")
    assert "SortMergeJoin" not in plan
    assert "GreaterThanOrEqual(l_quantity,1" in plan
    assert "LessThanOrEqual(l_quantity,40" in plan
    assert node_count(plan, "Exchange") <= 1  # single-row final agg only


def test_q18_having_semijoin_no_dim_sortmerge(spark, sf_dir):
    """The HAVING-driven semi-join keys on l_orderkey both times; the
    customer lookup must broadcast rather than sort-merge."""
    plan = plan_of(spark, sf_dir, "q18_large_orders")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q07_dual_role_dim_single_fact_shuffle(spark, sf_dir):
    """nation joins twice (supplier-side and customer-side role); both
    copies plus supplier/customer must broadcast, leaving the group-by
    as the only real exchange."""
    plan = plan_of(spark, sf_dir, "q07_nation_volume")
    assert "SortMergeJoin" not in plan
    assert node_count(plan, "BroadcastHashJoin") == 5
    assert node_count(plan, "Exchange") == 1


def test_blocked_neardup_no_nested_loop(spark, sf_dir):
    """x24 (the DEFAULT embedding near-dup): every join must be an
    equi-join — banded-signature candidate generation plus vec_id
    re-score joins; a cartesian/nested-loop anywhere means the O(n²)
    baseline leaked back in (VERDICT r1 fix #3)."""
    plan = plan_of(spark, sf_dir, "x24_blocked_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q08_single_exchange_all_dims_broadcast(spark, sf_dir):
    """q08 (widest join in the suite, 8 tables): every dimension
    broadcasts — the ONLY exchange is the lineitem⋈orders fact join.
    The 100 TB shape: one shuffle of fact data, seven map-side joins."""
    plan = plan_of(spark, sf_dir, "q08_market_share")
    assert node_count(plan, "Exchange") == 1, plan
    assert node_count(plan, "BroadcastHashJoin") == 7
    assert node_count(plan, "SortMergeJoin") == 0


def test_q21_decorrelated_without_self_joins(spark, sf_dir):
    """q21's EXISTS/NOT-EXISTS pair must run as ONE per-order
    aggregate (3 exchanges total: per-order agg, orderkey join, final
    groupBy) — never as two lineitem⋈lineitem self-join exchanges."""
    plan = plan_of(spark, sf_dir, "q21_sole_returned_supplier")
    assert node_count(plan, "Exchange") <= 3, plan
    assert "CartesianProduct" not in plan


def test_hash_sample_is_scan_local(spark, sf_dir):
    """x27 deterministic sampling is a pure per-row filter — zero
    exchanges; at 100 TB it runs at scan speed."""
    plan = plan_of(spark, sf_dir, "x27_hash_sample")
    assert node_count(plan, "Exchange") == 0, plan


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """x25: the eval-corpus shingle set must be the BROADCAST side
    (benchmark-sized); the training corpus is never self-joined."""
    plan = plan_of(spark, sf_dir, "x25_decontaminate")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
