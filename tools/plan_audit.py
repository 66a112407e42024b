"""Physical-plan audit: structural properties of queries() plans.

Warms the session's artifacts (``__spark_entry__.warm``), then for each
requested key builds the DataFrame at the given sf dir and counts the
query-time nodes of its `explain("formatted")` output (what runs on every
execution, not a cached artifact's one-time build): shuffles, join
strategies, cached-table scans, Arrow Python nodes, parquet pushdown,
whether the final cut is TakeOrderedAndProject, and Python-RDD scans.
Prints a PLANS.md markdown row per key.

Usage: python tools/plan_audit.py [sf_dir] [key1,key2,...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def query_time_nodes(plan: str) -> list[tuple[int, str]]:
    """(id, name) of each node in a formatted plan's trees that runs on
    every execution. Skipped: the nodes of a cached relation's plan (run
    once, when the cache is built) and the top-level adaptive plan's
    ``== Initial Plan ==`` section (replaced by the final plan, never run).

    The cached nodes are found by operator id, not by indentation: the
    formatted explain numbers an ``InMemoryRelation`` and then its cached
    plan, whose root (the next tree line) takes the last id, so the cached
    ids are those after the relation's up to its root's. Indentation does
    not nest: a cache built over another cache prints the inner adaptive
    plan's sections at a shallower column than its ``InMemoryRelation``."""
    node_re = re.compile(r"([ :+\-*]*)(\S.*?) \((\d+)\)(?:, Statistics\(.*\)| \(.*\))?$")
    out: list[tuple[int, str]] = []
    cached: list[tuple[int, int]] = []  # (relation id, cached-plan root id)
    relation = None  # id of an InMemoryRelation whose root is the next node
    in_details = in_initial = False
    for line in plan.splitlines():
        if not line.strip():  # a blank line ends a detail block or a tree
            in_details = in_initial = False
            continue
        if re.match(r"\(\d+\) ", line):
            in_details = True
        if in_details:
            continue
        if line.startswith("+- == Initial Plan =="):  # the top-level section only
            in_initial = True
        m = node_re.match(line)
        if not m:
            continue
        op_id, node = int(m.group(3)), m.group(2)
        if relation is not None:
            cached.append((relation, op_id))
            relation = None
        if node.startswith("InMemoryRelation"):
            relation = op_id
        if in_initial or any(lo < op_id <= hi for lo, hi in cached):
            continue
        out.append((op_id, node))
    return out


def query_time_details(plan: str) -> str:
    """The detail blocks (``(n) Node`` ...) of the query-time nodes only:
    what runs on every execution, not what a cache ran once."""
    ids = {i for i, _ in query_time_nodes(plan)}
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    return "\n".join(
        b for b in blocks if (m := re.match(r"\((\d+)\) ", b)) and int(m.group(1)) in ids
    )


def python_rdd_scans(plan: str) -> int:
    """Query-time ``Scan ExistingRDD`` nodes in a formatted plan's tree.
    ``createDataFrame`` over a list plans this way: a Python RDD that
    Python-worker tasks re-read on every execution. A checkpointed frame
    (JVM-side, e.g. connected components) plans this way too."""
    return sum(node.startswith("Scan ExistingRDD") for _, node in query_time_nodes(plan))


def audit_one(df) -> dict:
    """Node counts of the plan ``df`` runs on every execution
    (:func:`query_time_nodes`): a cached artifact's build and the never-run
    ``== Initial Plan ==`` section are not counted."""
    s = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    nodes = [n for _, n in query_time_nodes(s)]

    def count(*names: str) -> int:
        return sum(n.startswith(names) for n in nodes)

    return {
        # shuffle exchanges only: "BroadcastExchange" and "ReusedExchange"
        # are distinct node names
        "exch": count("Exchange"),
        "BHJ": count("BroadcastHashJoin"),
        "SMJ": count("SortMergeJoin"),
        "BNLJ": count("BroadcastNestedLoopJoin"),
        "mem": count("InMemoryTableScan"),
        "arrow": count("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"),
        "push": "yes"
        if any(
            line.strip().startswith("PushedFilters:") and "[]" not in line
            for line in query_time_details(s).splitlines()
        )
        else "-",
        "topk": "yes" if "TakeOrderedAndProject" in nodes else "-",
        "pyrdd": python_rdd_scans(s),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    from neural_search_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[4]", shuffle_partitions=8)
    import __spark_entry__ as entry

    entry.warm(spark, sf_dir)  # a cache not yet built plans with unknown partitioning
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
