"""Physical-plan inspection helpers — the feedback loop for scale tuning.

Used by tests to assert that plans have the shape we want at 100 TB:
filters/projections pushed into the parquet scan, small dimensions
broadcast, no Python row-at-a-time operators in hot paths.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted")


def has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def node_count(plan: str, name: str) -> int:
    """Count physical-plan NODES by their detail-section header
    ``(N) <Name>``. A plain substring count double-counts (the tree AND
    the detail section mention each node), and operator arguments like
    ``hashpartitioning(...)`` are printed on separate lines — substring
    patterns such as "Exchange hashpartitioning" never match formatted
    output at all (a vacuity a review pass caught live)."""
    return len(re.findall(rf"^\(\d+\) {name}\b", plan, flags=re.M))


def broadcast_join_count(df: DataFrame) -> int:
    return node_count(formatted_plan(df), "BroadcastHashJoin")


def shuffle_exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges only — BroadcastExchange nodes are named
    distinctly and are excluded by the word boundary."""
    return node_count(formatted_plan(df), "Exchange")

