"""Physical-plan inspection utilities — the feedback loop behind every
scale decision in this engine.

The reference has no optimizer to replicate (SURVEY.md §4); what a
Spark-native engine owes its operators instead is *evidence* that
Catalyst produced the plan they were designed for: filters pushed into
the parquet scan, dimensions broadcast, top-k compiled to
TakeOrderedAndProject, no accidental CartesianProduct, whole-stage
codegen covering the hot expressions. These helpers extract that
evidence from a DataFrame so tests (tests/test_plans.py) and
development loops can assert on it instead of hoping.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan string (post-AQE initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(plan: str) -> list[str]:
    """Every PushedFilters list in the plan, flattened."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schemas(plan: str) -> list[str]:
    """The ReadSchema struct of every file scan (column-pruning proof)."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]


def plan_summary(df: DataFrame, execute: bool = False) -> dict:
    """One-look plan health: join strategies, shuffle count, codegen
    span count, scans and their pushdowns.

    With ``execute=True`` THIS DataFrame is collected first so AQE
    finalizes ITS plan — codegen spans and runtime join demotions only
    show up in the final plan (``isFinalPlan=true``), and a separate
    action like ``df.count()`` builds a different query that leaves
    this one unexecuted. Use on bounded results (it materializes them).

    The numbers to watch while iterating on an operator:
    - ``exchanges`` — every one is a full shuffle of its input;
    - ``sort_merge_joins`` on a TPC-H-ratio dimension means a missing
      broadcast; ``cartesian_products`` outside a documented pair
      baseline means a bug;
    - ``codegen_spans`` shrinking after a change usually means an
      expression fell out of whole-stage codegen (e.g. a Python UDF
      landed in the hot path).
    """
    if execute:
        df.collect()
    plan = executed_plan(df)
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        "cartesian_products": plan.count("CartesianProduct"),
        "broadcast_nested_loop_joins": plan.count("BroadcastNestedLoopJoin"),
        "take_ordered": "TakeOrderedAndProject" in plan,
        # codegen stages appear as "*(n) Operator" prefixes in the plan
        # string (and as "WholeStageCodegen (n)" in formatted explain)
        "codegen_spans": len(
            set(re.findall(r"\*\((\d+)\)", plan))
            | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
        ),
        "scans": len(re.findall(r"FileScan|Scan parquet", plan)),
        "pushed_filters": pushed_filters(plan),
        "read_schemas": read_schemas(plan),
    }


def broadcast_subtrees(df: DataFrame) -> list[str]:
    """The plan-string of every BroadcastExchange subtree — i.e. WHAT
    is being broadcast, not just that a broadcast exists.

    The round-3 verdict found a join that broadcast the corpus-sized
    side while its docstring claimed the k-row side; a plan test over
    these subtrees is the net that catches that class of bug: assert
    the broadcast subtree contains the bounded relation (a
    TakeOrdered / LocalLimit / tiny dim scan) and NOT a corpus scan.
    Walks the physical plan via py4j; ReusedExchange nodes are skipped
    (their original subtree is already reported once).
    """
    out: list[str] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if "BroadcastExchange" in name:
            out.append(node.toString())
            return  # nested broadcasts inside the subtree are included
        if "AdaptiveSparkPlan" in name:
            # AQE root exposes its plan as a field, not via children()
            walk(node.initialPlan())
            return
        if "QueryStage" in name:  # materialized AQE stage wrapper
            walk(node.plan())
            return
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _main() -> None:
    """CLI: ``python -m the_hive_spark.plans.inspect <query> [sf_dir]``
    prints the plan-health summary (and the executed plan with -v) for
    any registered query — the development feedback loop as a command."""
    import argparse
    import json

    from the_hive_spark import registry
    from the_hive_spark.session import get_spark

    ap = argparse.ArgumentParser(description=_main.__doc__)
    ap.add_argument("query", help="registered query name (see registry)")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("-v", "--verbose", action="store_true",
                    help="also print the executed plan text")
    ap.add_argument("--execute", action="store_true",
                    help="collect first so AQE finalizes the plan")
    args = ap.parse_args()

    registry.load_all()
    if args.query not in registry.QUERIES:
        raise SystemExit(
            f"unknown query {args.query!r}; known: {sorted(registry.QUERIES)}"
        )
    spark = get_spark(app_name=f"inspect-{args.query}")
    df = registry.QUERIES[args.query](spark, args.sf_dir)
    print(json.dumps(plan_summary(df, execute=args.execute), indent=2, default=str))
    if args.verbose:
        print(executed_plan(df))
    spark.stop()


if __name__ == "__main__":
    _main()
