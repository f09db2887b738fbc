"""Dump .explain("formatted") for named registry queries to files.

Usage:
  python tools/plan_snapshot.py <out_dir> <suffix> <query1,query2,...> [sf_dir]

Writes <out_dir>/<query>_<suffix>.txt for each query (the r14
optimization-round deliverable: plans/r14/<query>_{before,after}.txt).
Planning only — no job runs (explain does not execute the query), but
count-gated operators may run their scalar gate counts.

These are PRE-ACTION plans, fixed before any cache below them is
materialized, so they are not always the plans that run, and they depend
on what ran earlier in the session.  At sf0.001, `minhash_lsh_pairs`
dumped alone shows two `Exchange hashpartitioning(doc_id, seed)` nodes
(none when dumped after `dedup_clusters`, whose first connected-components
checkpoint materializes the same shingle cache).  The plan graph of its noop write, read from the SQL
status store (`sharedState().statusStore().planGraph(execution id)`),
has none: AQE replans the seed aggregate onto the materialized shingle
cache's doc_id partitioning.  (That execution's
`physicalPlanDescription()` still lists them, under AQE's "Initial
Plan".)  Take shape claims and plan digests from the plan graph
(tests/test_plans.py `_ran_plan_nodes`), not from this dump.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_addresses_spark.registry import REGISTRY  # noqa: E402
from etl_addresses_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = REGISTRY[name].query(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
