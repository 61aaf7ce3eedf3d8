"""Self-test: the benchmark times each catalog member's own plan.

For every member, the plan the timed action ran (the final adaptive plan
of the collected DataFrame, read after the action) must have the same
number of Window, Python-boundary, join and scan nodes as the plan
``df.explain()`` prints before the action.  The same counts taken from the
``groupBy().count()`` plan show what timing ``count()`` would prune.
The traced pass of a catalog run applies ``compare`` to every query of its
workload and counts a mismatch as a failure, so traced ``catalog_sql`` and
``catalog_pyiter`` runs together check every member.
"""

from __future__ import annotations

_STAGES = ("ShuffleQueryStage", "BroadcastQueryStage", "TableCacheQueryStage", "ResultQueryStage")
_PYTHON = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
           "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
           "FlatMapCoGroupsInArrow")


def _seq(s):
    it = s.iterator()
    while it.hasNext():
        yield it.next()


def family_counts(plan) -> dict[str, int]:
    """Window, Python-boundary, join and scan nodes of a physical plan.

    Adaptive plans are read through their current plan (the input plan
    before execution, the final plan after), query stages through the
    plan they wrap, reused exchanges and subqueries through what they
    reuse.  A cached relation counts as its scan node only: its plan ran
    when it was cached."""
    counts = {"window": 0, "python": 0, "join": 0, "scan": 0}
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name in _STAGES:
            todo.append(node.plan())
            continue
        if name in ("ReusedExchange", "ReusedSubquery"):
            todo.append(node.child())
            continue
        if name == "Window":
            counts["window"] += 1
        elif name in _PYTHON:
            counts["python"] += 1
        elif name.endswith("Join") or name == "CartesianProduct":
            counts["join"] += 1
        elif name.startswith(("Scan ", "BatchScan", "InMemoryTableScan")):
            counts["scan"] += 1
        if name != "InMemoryTableScan":
            todo.extend(_seq(node.children()))
        todo.extend(_seq(node.subqueries()))
    return counts


def _plan(df):
    return df._jdf.queryExecution().executedPlan()


def compare(df) -> tuple[dict, dict, dict]:
    """(timed, explained, counted) family counts of a DataFrame that has
    just been collected: the plan that ran, the plan ``explain()`` shows
    for the same query before any action (planned afresh through an
    alias, which the optimizer removes), and the ``count()`` plan."""
    timed = family_counts(_plan(df))
    explained = family_counts(_plan(df.alias("selftest")))
    counted = family_counts(_plan(df.alias("selftest").groupBy().count()))
    return timed, explained, counted
