"""Plan-inspection utilities: capture ``.explain`` output as a string and
assert the physical properties the 100 TB design depends on (filter/column
pushdown into the parquet scan, broadcast joins for dims, no cartesian
products). Used by tests/test_plans.py."""

from __future__ import annotations

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def simple_plan(df: DataFrame) -> str:
    return _explain(df, "simple")


def pushed_filters(df: DataFrame) -> list[str]:
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out.append(line.removeprefix("PushedFilters:").strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """The columns each scan actually reads (column-pruning check)."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            out.append(line.removeprefix("ReadSchema:").strip())
    return out


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df)


def has_cartesian(df: DataFrame) -> bool:
    p = simple_plan(df)
    return "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p

