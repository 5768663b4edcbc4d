"""Physical-plan audit over the bench headline queries.

Prints, per query, the scale-relevant plan facts:

- exchanges (shuffles) and their count — every one costs a network
  pass at 100 TB;
- broadcast joins vs shuffled joins;
- nested-loop/cartesian joins (almost always a scale bug);
- whole-stage-codegen span count (JVM-side execution) and any Python
  eval nodes (the slow path);
- whether filter pushdown reached the parquet scan.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
ONLY = [a for a in sys.argv[1:] if "/" not in a]


def audit(plan: str) -> dict[str, object]:
    return {
        "exchanges": len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan)),
        "bcast_joins": plan.count("BroadcastHashJoin"),
        "smj_or_shj": plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin"),
        "nested_loop": plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct"),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "python_eval": plan.count("BatchEvalPython"),
        "arrow_pandas": plan.count("ArrowEvalPython") + plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas"),
        "pushed_filters": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
    }


def main() -> int:
    import bench

    import __spark_entry__ as entrymod
    from etl_neotel_sql_automation_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    qs = dict(entrymod.queries())
    qs.update(bench.EXTRA_QUERIES)  # bench-only variants (xxhash64 twin)
    names = ONLY or bench.HEADLINE
    print(f"{'query':34} {'xchg':>4} {'bhj':>3} {'smj':>3} {'nlj':>3} {'cg':>3} {'py':>3} {'arrow':>5} pushdown")
    for name in names:
        plan = qs[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        a = audit(plan)
        flag = " <-- NESTED LOOP" if a["nested_loop"] else (" <-- ROW PYTHON" if a["python_eval"] else "")
        print(
            f"{name:34} {a['exchanges']:>4} {a['bcast_joins']:>3} {a['smj_or_shj']:>3} "
            f"{a['nested_loop']:>3} {a['codegen_spans']:>3} {a['python_eval']:>3} "
            f"{a['arrow_pandas']:>5} {str(a['pushed_filters']):>8}{flag}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
