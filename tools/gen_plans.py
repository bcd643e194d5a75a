"""Regenerate PLANS.md from ``.explain("formatted")`` at sf0.01.

For every registered non-streaming query: join strategies, aggregate/top-k
shape, filters pushed into each parquet scan, and the columns each scan
reads (pruning evidence). Run: ``python tools/gen_plans.py``.
"""

from __future__ import annotations

import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)

REF_SURFACE = [
    "count_distinct_orders",
    "orders_no_price",
    "valid_orders",
    "clean_orders",
    "top_abandoned_products",
    "top_abandoned_pairs",
    "abandonment_mom_increase",
    "abandonment_yoy_increase",
    "nations_by_customer",
    "nations_by_supplier",
    "nations_by_expr_key",
    "launch_month_orders",
    "abandonment_by_month",
    "abandonment_by_day",
    "order_export_denorm",
    "calendar_dim",
]

JOIN_OPS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
NOTABLE = ("Window", "Generate", "Expand", "MapInPandas", "FlatMapGroupsInPandas")


def summarize(df) -> list[str]:
    from databricks_spark_sql_challenge1_spark.plans.explain import formatted_plan

    plan = formatted_plan(df)
    joins = sorted({op for op in JOIN_OPS if op in plan})
    lines = [f"- joins: {', '.join(joins) or 'none'}"]
    aggs = sorted(
        {m for m in ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
         if m in plan}
    )
    if aggs:
        topk = "TakeOrderedAndProject" in plan
        lines.append(f"- aggregates: {', '.join(aggs)}; top-k via TakeOrderedAndProject: {topk}")
    notable = sorted({op for op in NOTABLE if op in plan})
    if notable:
        lines.append(f"- operators: {', '.join(notable)}")
    for ln in plan.splitlines():
        ln = ln.strip()
        if ln.startswith("PushedFilters:") and ln != "PushedFilters: []":
            lines.append(f"- {ln}")
    scans = [
        ln.strip().removeprefix("ReadSchema:").strip()
        for ln in plan.splitlines()
        if ln.strip().startswith("ReadSchema:")
    ]
    if scans:
        lines.append(f"- scan columns: {'; '.join(s.split('/')[-1] for s in scans)}")
    return lines


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
    from databricks_spark_sql_challenge1_spark.registry import QUERIES, driver_order
    from databricks_spark_sql_challenge1_spark.session import get_spark

    spark = get_spark("gen-plans")
    sf_dir = "/root/testdata/sf0.01"

    out = [
        "# PLANS — physical-plan evidence",
        "",
        "Auto-generated from `.explain(\"formatted\")` at sf0.01 by",
        "`tools/gen_plans.py`. For each query: join strategies chosen, filters",
        "pushed into the parquet scan, and the columns each scan actually reads",
        "(pruning). Streaming queries excluded (plans are micro-batch-shaped;",
        "see tests/test_streaming.py).",
        "",
        "## Reference query surface",
    ]
    names = [n for n in driver_order(QUERIES) if not n.startswith("streaming_")]
    ordered = [n for n in REF_SURFACE if n in names] + sorted(
        n for n in names if n not in REF_SURFACE
    )
    for i, name in enumerate(ordered):
        if i == len(REF_SURFACE):
            out.append("\n## Extension operators")
        df = QUERIES[name](spark, sf_dir)
        out.append(f"\n## {name}\n")
        out.extend(summarize(df))
        print("done", name)

    with open(os.path.join(REPO_DIR, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
