"""Plan-inspection helpers: assert that the physical plan is the one you'd
want at 100 TB — filters pushed to the parquet scan, small dims broadcast,
aggregates partial, codegen wide. Used by tests/test_plans.py and by hand
while iterating (`.explain("formatted")` and look).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # same as df.explain("formatted")
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    plan = formatted(df)
    out = []
    for chunk in plan.split("PushedFilters: [")[1:]:
        out.append(chunk.split("]")[0])
    return out


def scan_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — verify column pruning reached parquet."""
    plan = formatted(df)
    return [chunk.split("\n")[0] for chunk in plan.split("ReadSchema: ")[1:]]


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted(df)


def count_shuffles(df: DataFrame) -> int:
    """Shuffle Exchange nodes in the plan (broadcast exchanges excluded).
    Formatted explain names shuffle nodes exactly 'Exchange' — the
    partitioning lands on a separate Arguments line — so count the
    '(n) Exchange' detail headers."""
    import re

    return len(re.findall(r"\(\d+\) Exchange\b", formatted(df)))


def has_partial_aggregate(df: DataFrame) -> bool:
    """Map-side combine present (HashAggregate with partial mode)."""
    plan = formatted(df)
    return "partial_" in plan or "Partial" in plan
