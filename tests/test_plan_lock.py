"""Plan-shape lockfile: every registered query's physical plan is
pinned in tests/plan_shapes.json. A query whose Exchange count GROWS,
or that acquires a CartesianProduct / BroadcastNestedLoopJoin the
lock doesn't have, fails here — shuffle creep and broadcast loss are
the silent 100 TB killers, so changing a plan requires regenerating
the lock (tools/regen_plan_lock.py) in the same commit, making the
physical-plan diff visible in review.

Counts compare at sf0.001 with the session's static planning (the
same input the lock was generated from), so thresholds don't drift
with data volume.
"""

from __future__ import annotations

import json
import os

import pytest

from etl_spark.plans.inspect import node_count
from etl_spark.registry import all_specs

from tests.test_plans import plan_of

LOCK_PATH = os.path.join(os.path.dirname(__file__), "plan_shapes.json")

with open(LOCK_PATH) as fh:
    LOCK = json.load(fh)

SPECS = all_specs()

# a query may legitimately gain one of these only by regenerating the lock
NEVER_WORSE = ("Exchange", "CartesianProduct", "BroadcastNestedLoopJoin")


def test_lock_covers_every_registered_query():
    missing = sorted(set(SPECS) - set(LOCK))
    assert not missing, (
        f"queries without a plan lock: {missing} — run tools/regen_plan_lock.py"
    )


@pytest.mark.parametrize("name", sorted(SPECS))
def test_plan_shape_locked(spark, name):
    locked = LOCK.get(name)
    if locked is None:
        pytest.skip("covered by test_lock_covers_every_registered_query")
    plan = plan_of(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"), name)
    for node in NEVER_WORSE:
        got = node_count(plan, node)
        assert got <= locked[node], (
            f"{name}: {node} count {got} exceeds locked {locked[node]} — a plan "
            f"regression, or regenerate tests/plan_shapes.json deliberately"
        )
    assert node_count(plan, "BatchEvalPython") == 0, (
        f"{name}: row-at-a-time Python UDF in the plan — use a builtin "
        f"or an Arrow-batched pandas UDF"
    )
