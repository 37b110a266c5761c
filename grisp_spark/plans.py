"""Physical-plan inspection helpers — the "is this the plan I'd want
at 100 TB" toolkit used by tests/test_plans.py and by hand during
development.

The reference has no optimizer to audit (hand-scheduled MR jobs);
here the audit IS the optimizer contract: broadcast where intended,
pushdown reaching the scan, partial aggregation before shuffles,
bounded exchange counts."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame, kind: str = "") -> int:
    """Number of Exchange operators; kind narrows to e.g.
    'hashpartitioning' / 'rangepartitioning'."""
    plan = physical_plan(df)
    return plan.count(f"Exchange {kind}" if kind else "Exchange ")


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    plan = physical_plan(df)
    if "PushedFilters:" not in plan:
        return ""
    return plan.split("PushedFilters:", 1)[1].splitlines()[0].strip()


def read_schema(df: DataFrame) -> str:
    plan = physical_plan(df)
    if "ReadSchema:" not in plan:
        return ""
    return plan.split("ReadSchema:", 1)[1].splitlines()[0].strip()


def audit(df: DataFrame) -> dict[str, object]:
    """One-call summary for interactive use."""
    return {
        "exchanges": count_exchanges(df),
        "hash_exchanges": count_exchanges(df, "hashpartitioning"),
        "broadcast_join": uses_broadcast_join(df),
        "pushed_filters": pushed_filters(df),
        "read_schema": read_schema(df),
        "whole_stage_codegen": "WholeStageCodegen" in physical_plan(df),
    }
