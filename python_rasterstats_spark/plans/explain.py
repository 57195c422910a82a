"""Plan-inspection helpers: assert the physical plan is the one we want
(broadcast where intended, filters pushed to the scan, codegen spans)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_summary(df: DataFrame) -> dict:
    plan = physical_plan(df)
    return {
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "exchanges": plan.count("Exchange"),
        "wholestage_codegen": plan.count("WholeStageCodegen"),
        "pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "batch_scans": plan.count("Scan parquet"),
    }


def payload_scans(df: DataFrame, column: str = "bytes") -> list:
    """The parquet scans (``FileSourceScanExec`` JVM nodes) reading
    ``column`` in ``df``'s executed plan, through AQE and query-stage
    wrappers."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        plan = stack.pop()
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(plan.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(plan.plan())
            continue
        if cls == "FileSourceScanExec" and column in list(
            plan.requiredSchema().fieldNames()
        ):
            out.append(plan)
        children = plan.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def scan_output_rows(df: DataFrame, column: str = "bytes") -> int:
    """Rows the parquet scans reading ``column`` output in ``df``'s
    executed plan (their ``numOutputRows`` metric, so run the plan
    first): what row-group and page skipping let through, before any row
    filter."""
    return sum(
        scan.metrics().apply("numOutputRows").value()
        for scan in payload_scans(df, column)
    )


def _names(s: str) -> list:
    return re.findall(r"([A-Za-z_]\w*)#\d+", s)


def map_in_pandas_inputs(plan: str) -> list:
    """``(output columns, sort keys, hash-exchange keys)`` of every
    MapInPandas in ``plan`` (physical_plan text; of an executed adaptive
    plan, its final plan only). The keys are None unless the node reads a
    Sort over an ``Exchange hashpartitioning`` (through AQE's shuffle
    read): the shape of the sorted streaming merge."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    # one node per line, without the tree drawing and codegen-stage prefix;
    # a unary node's child is the next line
    nodes = [re.sub(r"^[\s:+|-]*(\*\(\d+\) )?", "", ln) for ln in plan.splitlines()]
    nodes.append("")
    out = []
    for i, node in enumerate(nodes):
        if not node.startswith("MapInPandas "):
            continue
        j = i + 2
        while nodes[j].startswith(("AQEShuffleRead", "ShuffleQueryStage")):
            j += 1
        m = re.match(r"Exchange hashpartitioning\((.*), \d+\)", nodes[j])
        fed = nodes[i + 1].startswith("Sort [") and m
        out.append((
            _names(node[node.rindex("["):]),
            _names(nodes[i + 1].split("]")[0]) if fed else None,
            _names(m.group(1)) if fed else None,
        ))
    return out
