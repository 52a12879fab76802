"""Physical-plan audit over every contract query -> PLANS.md.

For each __spark_entry__.queries() entry, capture the executed plan and
summarize the properties that matter at 100 TB:

- shuffle exchanges (hash/range) — each is a full-data network pass
- broadcast exchanges / broadcast joins — the small-side pattern
- Python eval nodes (ArrowEval/BatchEval/FlatMapsInPandas/MapInPandas)
  — anything outside JVM codegen
- parquet PushedFilters — whether predicates reach the scan
- checkpointed — whether the plan scans a localCheckpoint, i.e. some
  of the query's work ran when it was built and is not counted here

Usage: python tools/explain_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MARKERS = {
    "shuffles": r"Exchange (hash|range)partitioning",
    "broadcasts": r"BroadcastExchange",
    "bcast_joins": r"BroadcastHashJoin|BroadcastNestedLoopJoin",
    "smj": r"SortMergeJoin",
    "python_nodes": r"ArrowEvalPython|BatchEvalPython|FlatMapsInPandas|MapInPandas|FlatMapGroupsInPandas",
}


def audit_plan(plan: str) -> dict:
    out = {k: len(re.findall(rx, plan)) for k, rx in MARKERS.items()}
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    out["pushed_filters"] = sum(1 for p in pushed if p.strip())
    return out


def scans_checkpoint(df) -> int:
    """1 when a leaf of `df`'s plan is a locally checkpointed RDD."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (leaf.getClass().getSimpleName() == "LogicalRDD"
                and leaf.rdd().isLocallyCheckpointed()):
            return 1
    return 0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from batch3dfier_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app_name="explain-audit", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in sorted(entry.queries().items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append((name, {**audit_plan(plan),
                                "checkpointed": scans_checkpoint(df)}))
        except Exception as ex:  # noqa: BLE001
            rows.append((name, {"error": str(ex)[:80]}))

    print("# PLANS — physical-plan audit of every contract query")
    print()
    print(f"Generated by `python tools/explain_audit.py {sf_dir}`.")
    print("Counts from the executed plan (AQE initial). At 100 TB each")
    print("shuffle is a full network pass over the fact table; Python")
    print("nodes are Arrow-vectorized pandas UDFs (never per-row).")
    print()
    print("| query | shuffles | broadcast joins | sort-merge | python nodes "
          "| pushed filters | checkpointed |")
    print("|---|---|---|---|---|---|---|")
    for name, a in rows:
        if "error" in a:
            print(f"| {name} | error: {a['error']} | | | | | |")
            continue
        print(
            f"| {name} | {a['shuffles']} | {a['bcast_joins']} | {a['smj']} "
            f"| {a['python_nodes']} | {a['pushed_filters']} "
            f"| {a['checkpointed']} |"
        )
    print()
    print("Notes:")
    print("- `shuffles` counts Exchange hash/range partitioning nodes;")
    print("  groupBy aggregations contribute exactly one (partial agg is")
    print("  map-side). Queries with 0 run entirely shuffle-free.")
    print("- `python nodes` >0 only where semantics require a kernel")
    print("  Spark lacks (polygon test, MinHash, media decode, ...).")
    print("- streaming twins are audited in their batch form here.")
    print("- dedup_clusters is ITERATIVE (min-label propagation): it runs")
    print("  during query construction, in one numpy task for graphs under")
    print("  CC_ONE_TASK_EDGES_MAX edge rows, else as a Spark round loop")
    print("  with a localCheckpoint per round, so the audited final plan is")
    print("  just the checkpointed result scan.")
    print("- an intermediate read twice is localCheckpointed (session.py")
    print("  lifetime rule); with AQE its input's shuffle stages run when")
    print("  the query is built and only the plan above the checkpoint is")
    print("  counted here.  `checkpointed` = 1 marks those rows: their")
    print("  counts are a lower bound on the query's work.")
    spark.stop()


if __name__ == "__main__":
    main()
