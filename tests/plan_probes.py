"""Physical-plan probes the plan tests assert with (SURVEY.md §4):
filters reach the parquet scan, projections prune the read schema,
small sides broadcast, relational stages stay inside whole-stage
codegen, and operators don't shuffle more than they say. Each probe
reads :func:`plans.audit.formatted_plan` or the executed plan."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from osm_data_classification_spark.plans.audit import formatted_plan


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the datasource scan (parquet row-group
    pruning boundary)."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns actually read from the datasource (column pruning)."""
    plan = formatted_plan(df)
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for field in m.group(1).split(","):
            if ":" in field:
                cols.add(field.split(":")[0].strip())
    return cols


def plan_nodes(df: DataFrame) -> list[str]:
    """Operator names from the formatted plan's details section — each
    node appears exactly once as '(N) NodeName' (the tree rendering
    repeats names, so counting raw substrings double-counts)."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)]


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan. BroadcastExchange is a different
    node name and is NOT counted — broadcasts are the cheap kind."""
    return sum(1 for n in plan_nodes(df) if n == "Exchange")


def join_kinds(df: DataFrame) -> list[str]:
    wanted = {
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    }
    return [n for n in plan_nodes(df) if n in wanted]


def codegen_stage_count(df: DataFrame, execute: bool = True) -> int:
    """Distinct whole-stage-codegen spans (`*(N)` markers). With AQE the
    markers only exist in the FINAL plan, so the query is executed
    first by default."""
    if execute:
        # collect() (not count()) — count() executes a DIFFERENT query
        # and leaves this df's adaptive plan unfinalized; audit inputs
        # are small test frames
        df.collect()
    plan = simple_plan(df)
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def has_python_stage(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return bool(re.search(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas", plan))
