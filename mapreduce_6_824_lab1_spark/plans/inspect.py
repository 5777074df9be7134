"""Physical-plan inspection helpers.

The 100 TB contract is enforced here: tests assert that dims broadcast and
that predicates reach the parquet scan (PushedFilters) — not just that
results match.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (what .explain prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_hash_join(df: DataFrame, min_count: int = 1) -> bool:
    plan = formatted_plan(df)
    return len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)) >= min_count


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries found on scans in the plan."""
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
