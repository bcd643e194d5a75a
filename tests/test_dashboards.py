"""Dashboard composition + mart materialization (reference §4.1
architecture: widgets re-scan persisted marts)."""

from __future__ import annotations

from databricks_spark_sql_challenge1_spark.operators.dashboards import (
    dashboard_by_day,
    dashboard_by_month,
    materialize_marts,
)
from tests.conftest import SF_DIR


def test_dashboards_compose(spark):
    day = dashboard_by_day(spark, SF_DIR)
    month = dashboard_by_month(spark, SF_DIR)
    assert len(day) == 4 and len(month) == 4
    n_days = {name: df.count() for name, df in day.items()}
    assert len(set(n_days.values())) == 1  # all four widgets cover same days
    assert all(df.count() == 12 for df in month.values())  # 12-month window


def test_materialize_marts(spark):
    materialize_marts(spark, SF_DIR, database="marts_test")
    month = spark.table("marts_test.abandonment_analytics_month")
    day = spark.table("marts_test.abandonment_analytics_day")
    assert month.count() == 12
    assert day.count() >= 60  # ~3 calendar months of days
    spark.sql("DROP TABLE marts_test.abandonment_analytics_month")
    spark.sql("DROP TABLE marts_test.abandonment_analytics_day")
    spark.sql("DROP DATABASE marts_test")


def test_assemblies_match_per_widget_outputs(spark):
    """The r10 consolidation claim, test-enforced: every row the two
    dashboard assemblies emit must equal the corresponding per-widget
    query's output (same values, long format), so one driver row per
    assembly really does certify the whole dashboard."""
    from collections import defaultdict

    from databricks_spark_sql_challenge1_spark.operators.dashboards import (
        WIDGETS,
        dashboard_day_assembly,
        dashboard_month_assembly,
    )
    from databricks_spark_sql_challenge1_spark.operators.marts import (
        widget_day_peak,
        widget_month_totals,
    )

    def by_widget(df):
        out = defaultdict(dict)
        for r in df.collect():
            out[r["widget"]][r["bucket"]] = r["metric_value"]
        return out

    day = by_widget(dashboard_day_assembly(spark, SF_DIR))
    month = by_widget(dashboard_month_assembly(spark, SF_DIR))

    for name, fn in WIDGETS.items():
        got = day[name] if name.startswith("widget_day") else month[name]
        metric = name.replace("widget_day_", "total_").replace(
            "widget_month_", "total_"
        )
        # widget naming: value_items -> total_value_items, orders ->
        # total_abandoned_orders, items -> total_abandoned_items
        col = {
            "total_value_items": "total_value_items",
            "total_orders": "total_abandoned_orders",
            "total_items": "total_abandoned_items",
            "total_value_orders": "total_value_orders",
        }[metric]
        rows = fn(spark, SF_DIR).collect()
        assert len(rows) == len(got), name
        for r in rows:
            key = str(r[0])
            assert float(r[col]) == got[key], (name, key, r[col], got[key])

    # peak widget: top-10 days, two metric rows each
    peak = widget_day_peak(spark, SF_DIR).collect()
    assert len(day["widget_day_peak_orders"]) == len(peak) == 10
    for r in peak:
        key = str(r["date"])
        assert day["widget_day_peak_orders"][key] == float(
            r["total_abandoned_orders"]
        )
        assert day["widget_day_peak_value"][key] == float(
            r["total_value_orders"]
        )

    # totals widget: one row per metric, bucket = metric name
    tot = widget_month_totals(spark, SF_DIR).collect()[0]
    for metric, val in month["widget_month_totals"].items():
        assert float(tot[metric]) == val, metric
