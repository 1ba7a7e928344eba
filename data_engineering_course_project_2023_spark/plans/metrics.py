"""Physical-plan walking: what a query's plan holds and what it MOVED.

Wall-clock benchmarks are noisy; plan shape and shuffle volume are
(near-)deterministic for a fixed input — partial-aggregate output per
map partition, broadcast-join build sizes, exchange byte counts.
`plan_summary` is the one plan walker: it descends into AQE query
stages and returns node counts by name, scans per table and the
Exchange write totals. `shuffle_summary` executes a frame and
summarises its final adaptive plan, so tests can pin a SHUFFLE BYTE
BUDGET the way they pin plan shapes: a regression that silently turns
a map-side partial agg into a full-row shuffle fails the budget even
though results and plan keywords stay identical. Subquery plans held
in expressions are not walked.
"""

from __future__ import annotations

import re
from collections import Counter

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# "WholeStageCodegen (3)" and "Scan parquet " count under one name each
_NODE_SUFFIX = re.compile(r"\s*(\(\d+\))?\s*$")


def physical_plan(df: DataFrame):
    """``df``'s physical plan (a JVM ``SparkPlan``): the initial plan
    while the frame is unexecuted, the final adaptive plan after."""
    plan = df._jdf.queryExecution().executedPlan()
    # AdaptiveSparkPlanExec holds the current plan behind executedPlan()
    if plan.nodeName().startswith("AdaptiveSparkPlan"):
        plan = plan.executedPlan()
    return plan


def _scan_tables(node) -> list[str]:
    """Input table names of a file scan (root path basename, no
    ``.parquet``); empty for scans that read no files."""
    try:
        paths = node.relation().location().rootPaths()
    except Py4JError:  # not a file scan
        return []
    names = (paths.apply(i).getName() for i in range(paths.size()))
    return [n.removesuffix(".parquet") for n in names]


def plan_summary(plan) -> dict:
    """Walk ``plan`` and return {"nodes": {node name: count}, "scans":
    {table: file scans}, "exchanges": Exchange nodes, "records":
    shuffleRecordsWritten, "bytes": shuffleBytesWritten}. Write totals
    are only non-zero on an executed plan."""
    nodes: Counter = Counter()
    scans: Counter = Counter()
    totals = {"records": 0, "bytes": 0}

    def walk(node) -> None:
        name = _NODE_SUFFIX.sub("", node.nodeName())
        nodes[name] += 1
        if name.startswith("Scan "):
            scans.update(_scan_tables(node))
        if name == "Exchange":
            m = node.metrics()
            totals["records"] += m.apply("shuffleRecordsWritten").value()
            totals["bytes"] += m.apply("shuffleBytesWritten").value()
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        # a write's query sits behind an AdaptiveSparkPlan leaf
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        # AQE materializes exchanges inside query-stage wrappers
        if "QueryStage" in name:
            try:
                walk(node.plan())
            except Py4JError:
                pass

    walk(plan)
    return {
        "nodes": dict(nodes),
        "scans": dict(scans),
        "exchanges": nodes["Exchange"],
        **totals,
    }


def shuffle_summary(df: DataFrame) -> dict:
    """Execute ``df`` (collect, results discarded) and return
    `plan_summary` of its final executed plan plus "rows": len(result)."""
    rows = df.collect()
    return {**plan_summary(physical_plan(df)), "rows": len(rows)}
