"""Plan-inspection helpers: assert the physical plans the engine expects.

Used by tests/test_plans.py to pin the scale-critical plan properties:
filters and column pruning reach the parquet scan, small dims broadcast,
politeness stays a single shuffle, and the hot paths stay inside
WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan advertises the filter in PushedFilters."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns the parquet scan actually reads (column pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line and "struct<" in line:
            inner = line.split("struct<", 1)[1].rsplit(">", 1)[0]
            cols.extend(f.split(":")[0] for f in inner.split(",") if f)
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    """True for either broadcast strategy (hash join for equi keys,
    nested-loop for broadcast cartesian probes like cosine top-k)."""
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("Exchange") or " Exchange " in line
    )
