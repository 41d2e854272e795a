"""Helpers to interrogate a DataFrame's physical plan.

The scale contract this engine cares about (SURVEY §4):
- filters reach the Parquet scan (PushedFilters) — data skipping
- scans read only referenced columns (ReadSchema) — column pruning
- partition-column predicates prune directories (PartitionFilters)
- small dims broadcast (BroadcastHashJoin), never sort-merge
- ORDER BY+LIMIT plans TakeOrderedAndProject, never a global sort
- expression pipelines stay inside WholeStageCodegen spans

Each helper is also used by tests/test_plans.py so regressions in plan
shape fail CI, not a 1000-executor run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True if every fragment appears inside a PushedFilters: [...] list."""
    plan = executed_plan(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    return all(frag in pushed for frag in fragments)


def has_partition_filters(df: DataFrame, *fragments: str) -> bool:
    plan = executed_plan(df)
    part = " ".join(re.findall(r"PartitionFilters: \[([^\]]*)\]", plan))
    return all(frag in part for frag in fragments)


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of each Parquet ReadSchema in the plan (pruning check)."""
    plan = executed_plan(df)
    out = []
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        out.append([c.split(":")[0].strip() for c in m.split(",") if c.strip()])
    return out


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in executed_plan(df)


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Count WholeStageCodegen spans in the FINAL plan. Under AQE the
    pre-execution plan is a skeleton (isFinalPlan=false) with no codegen
    nodes, so this executes the query first — use on test-scale data."""
    df.collect()
    plan = executed_plan(df)
    # spans appear as "WholeStageCodegen (n)" in formatted plans and as the
    # "*(n)" prefix in tree plans; count distinct span ids across both
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    ids |= set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    return len(ids)
