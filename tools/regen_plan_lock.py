"""Regenerate tests/plan_shapes.json — the plan-shape lockfile.

Run after INTENTIONALLY changing a query's physical plan:

    python tools/regen_plan_lock.py

For every registered query, records the count of scale-relevant
physical nodes (Exchange, joins, cartesian/nested-loop) in the
statically-planned (pre-AQE) formatted explain at sf0.001.
`tests/test_plan_lock.py` fails when a query's Exchange count grows
or a cartesian/nested-loop appears where the lock has none — shuffle
creep and broadcast loss are regressions someone must sign off on by
regenerating this file in the same commit.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NODES = (
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
LOCK = os.path.join(os.path.dirname(__file__), "..", "tests", "plan_shapes.json")


def main() -> None:
    from etl_spark.plans.inspect import formatted_plan, node_count
    from etl_spark.registry import all_specs
    from etl_spark.session import get_spark

    spark = get_spark(app_name="plan-lock")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[str, int]] = {}
    for name, spec in sorted(all_specs().items()):
        # lock the COLD-cache plan: a materialized cache makes the
        # formatted explain print the cached child plan under every
        # InMemoryRelation occurrence, inflating node counts for
        # persist()-using queries (x54/x57). tests/test_plans.plan_of
        # clears the cache identically, so lock and test always
        # compare the same (cold) shape regardless of test order.
        spark.catalog.clearCache()
        plan = formatted_plan(spec.fn(spark, SF_DIR))
        out[name] = {n: node_count(plan, n) for n in NODES}
    with open(LOCK, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(out)} plan shapes to {LOCK}")
    spark.stop()


if __name__ == "__main__":
    main()
