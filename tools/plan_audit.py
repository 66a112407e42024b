"""Physical-plan audit: structural properties of queries() plans.

For each requested key, builds the DataFrame at the given sf dir and
counts plan nodes in `explain("formatted")` output: shuffles, join
strategies, cached-table scans, Arrow Python nodes, parquet pushdown,
whether the final cut is TakeOrderedAndProject, and query-time Python-RDD
scans. Prints a PLANS.md markdown row per key.

Usage: python tools/plan_audit.py [sf_dir] [key1,key2,...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def python_rdd_scans(plan: str) -> int:
    """``Scan ExistingRDD`` nodes in a formatted plan's tree, not counting
    those under an ``InMemoryRelation`` (read once, when the cache is
    built). ``createDataFrame`` over a list plans this way: a Python RDD
    that Python-worker tasks re-read on every execution. A checkpointed
    frame (JVM-side, e.g. connected components) plans this way too."""
    n, cached = 0, None  # tree depth of the InMemoryRelation being skipped
    for line in plan.splitlines():
        m = re.match(r"([ :+\-*]*)(\S.*) \(\d+\)$", line)
        if not m or line.startswith("("):  # not a tree line
            continue
        depth, node = len(m.group(1)), m.group(2)
        if cached is not None and depth > cached:
            continue
        cached = depth if node.startswith("InMemoryRelation") else None
        n += node.startswith("Scan ExistingRDD")
    return n


def audit_one(df) -> dict:
    s = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return {
        # shuffle exchanges only — formatted explain puts the node name on
        # its own "(n) Exchange" header line; "BroadcastExchange" and
        # "ReusedExchange" are distinct node names
        "exch": s.count(") Exchange"),
        "BHJ": s.count("BroadcastHashJoin"),
        "SMJ": s.count("SortMergeJoin"),
        "BNLJ": s.count("BroadcastNestedLoopJoin"),
        "mem": s.count("InMemoryTableScan"),
        "arrow": s.count("ArrowEvalPython") + s.count("MapInPandas") + s.count("FlatMapGroupsInPandas"),
        "push": "yes"
        if any(
            line.strip().startswith("PushedFilters:") and "[]" not in line
            for line in s.splitlines()
        )
        else "-",
        "topk": "yes" if "TakeOrderedAndProject" in s else "-",
        "pyrdd": python_rdd_scans(s),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    from neural_search_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[4]", shuffle_partitions=8)
    import __spark_entry__ as entry

    qs = entry.queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    for name, fn in qs.items():
        try:
            row = audit_one(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"| {name} | ERROR {e} |")
            continue
        print(
            f"| {name} | {row['exch']} | {row['BHJ']} | {row['SMJ']} | "
            f"{row['BNLJ']} | {row['mem']} | {row['arrow']} | {row['push']} | {row['topk']} | "
            f"{row['pyrdd']} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
