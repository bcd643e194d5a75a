"""Plan-inspection utilities: capture ``.explain`` output as a string and
assert the physical properties the 100 TB design depends on (filter/column
pushdown into the parquet scan, broadcast joins for dims, no cartesian
products), and count a plan's physical operators (``fingerprint``, which
PLANS.json records per query). Used by tests/test_plans.py."""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

# Fingerprints are taken at this spark.sql.shuffle.partitions (conftest's
# default core count), whatever the host: with preferSortMergeJoin=false a
# shuffled hash join needs its build side under autoBroadcastJoinThreshold
# x shuffle.partitions, so launch_cohort_analysis plans two SortMergeJoins
# at 2 partitions but a SortMergeJoin and a ShuffledHashJoin at 3 to 32.
FINGERPRINT_PARTITIONS = 8


def _explain(df: DataFrame, mode: str) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def simple_plan(df: DataFrame) -> str:
    return _explain(df, "simple")


def _scan_fields(df: DataFrame, key: str) -> list[str]:
    lines = (ln.strip() for ln in formatted_plan(df).splitlines())
    return [ln.removeprefix(key).strip() for ln in lines if ln.startswith(key)]


def pushed_filters(df: DataFrame) -> list[str]:
    return _scan_fields(df, "PushedFilters:")


def read_schemas(df: DataFrame) -> list[str]:
    """The columns each scan actually reads (column-pruning check)."""
    return _scan_fields(df, "ReadSchema:")


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df)


def fingerprint(df: DataFrame) -> dict[str, int]:
    """The multiset of physical operator names in ``df``'s plan before
    execution: AQE's initial plan and its subqueries, each name stripped
    and without its `` (n)`` codegen id. ``Exchange`` and
    ``BroadcastExchange`` count shuffles and broadcasts, ``Scan parquet``
    table reads and ``Scan ExistingRDD`` checkpoint reads. Counting names
    rather than comparing plan text keeps it stable where the text is
    not: expression ids, lambda variable names, Expand projection order."""
    counts: Counter[str] = Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        counts[re.sub(r" \(\d+\)$", "", name.strip())] += 1
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.length()))
    return dict(sorted(counts.items()))
