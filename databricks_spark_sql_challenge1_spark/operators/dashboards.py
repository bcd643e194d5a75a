"""The reference's 2 dashboards / 10 widget analogs (``dbc:cmd3-5,8-10,35-36``,
``dbc:dashboards[0-1]``): each widget is a ``WITH q AS (<mart>) SELECT key,
SUM(metric) GROUP BY key`` re-aggregation over the month/day marts
(SURVEY.md §2.9 Q2).

Registry surface (round-10 capacity policy, QUERIES.md §driver-window):
the 10 individual widget registrations are CONSOLIDATED into two
dashboard-assembly queries — one per dashboard grain — that compute the
mart once and emit every widget's rows in long format
``(widget, bucket, metric_value)`` under one multi-row oracle. The
per-widget callables remain importable (``WIDGETS``) and drive the
``dashboard_by_day`` / ``dashboard_by_month`` composition helpers; only
the registry names collapsed (10 → 2), so one driver row now hash-checks
a whole dashboard.

The reference materializes the marts first so widgets re-scan small tables
(§4.1); ``materialize_marts`` provides that step, while the registered
assemblies recompute from base tables so the DuckDB oracle can replay
them without shared state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.functions.cents import cents, sum_value_sql
from databricks_spark_sql_challenge1_spark.operators import marts
from databricks_spark_sql_challenge1_spark.registry import QueryFn, query
from databricks_spark_sql_challenge1_spark.sources.ingest import save_table


def _widget(mart_fn, key: str, metric: str):
    """Build one widget: WITH q AS (mart) SELECT key, SUM(metric) GROUP BY key."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        mart = mart_fn(spark, sf_dir)
        agg = F.sum(metric)
        if metric != "total_abandoned_orders":
            agg = F.round(agg, 2)
        return (
            mart.groupBy(key)
            .agg(agg.alias(metric))
            .orderBy(F.col(key).asc())
        )

    return fn


_WIDGET_SPECS = [
    ("widget_day_value_items", marts.abandonment_by_day, "date", "total_value_items"),              # dbc:cmd3
    ("widget_day_orders", marts.abandonment_by_day, "date", "total_abandoned_orders"),              # dbc:cmd4
    ("widget_day_items", marts.abandonment_by_day, "date", "total_abandoned_items"),                # dbc:cmd5
    ("widget_day_value_orders", marts.abandonment_by_day, "date", "total_value_orders"),            # dbc:cmd36
    ("widget_month_value_items", marts.abandonment_by_month, "year_month", "total_value_items"),    # dbc:cmd8
    ("widget_month_orders", marts.abandonment_by_month, "year_month", "total_abandoned_orders"),    # dbc:cmd9
    ("widget_month_items", marts.abandonment_by_month, "year_month", "total_abandoned_items"),      # dbc:cmd10
    ("widget_month_value_orders", marts.abandonment_by_month, "year_month", "total_value_orders"),  # dbc:cmd35
]

# Unregistered per-widget callables (name -> fn): the composition helpers
# and tests keep the per-widget granularity; the driver surface is the two
# assemblies below.
WIDGETS: dict[str, QueryFn] = {}
for _name, _mart_fn, _key, _metric in _WIDGET_SPECS:
    _fn = _widget(_mart_fn, _key, _metric)
    _fn.__name__ = _name
    WIDGETS[_name] = _fn


# --- consolidated dashboard assemblies (round-10 capacity policy) ----------

# Widget metric -> emitted value expression over a mart row. The mart
# already ROUNDs monetary sums to 2 decimals (marts._mart_sql) and the
# marts are keyed uniquely (one row per date / year_month), so the widget
# re-aggregation is the identity on values; the assembly unpivots the mart
# directly. metric_value is DOUBLE on both sides (counts are exact in
# double far beyond any fixture scale; values are >= 0 so no -0.0 hazard).
_DAY_WIDGET_METRICS = [
    ("widget_day_value_items", "total_value_items"),
    ("widget_day_orders", "total_abandoned_orders"),
    ("widget_day_items", "total_abandoned_items"),
    ("widget_day_value_orders", "total_value_orders"),
]
_MONTH_WIDGET_METRICS = [
    ("widget_month_value_items", "total_value_items"),
    ("widget_month_orders", "total_abandoned_orders"),
    ("widget_month_items", "total_abandoned_items"),
    ("widget_month_value_orders", "total_value_orders"),
]


def _stack_widgets(pairs) -> str:
    args = ", ".join(
        f"'{w}', CAST({m} AS DOUBLE)" for w, m in pairs
    )
    return f"stack({len(pairs)}, {args}) AS (widget, metric_value)"


def _union_widget_sql(pairs, bucket_expr: str) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT '{w}' AS widget, {bucket_expr} AS bucket,"
        f" CAST({m} AS DOUBLE) AS metric_value FROM q"
        for w, m in pairs
    )


@query(
    "dashboard_day_assembly",
    oracle=f"""
WITH q AS ({marts._mart_sql("day")}),
peak AS (
    SELECT CAST(date AS VARCHAR) AS bucket, total_abandoned_orders,
           total_value_orders
    FROM q
    ORDER BY total_abandoned_orders DESC, date DESC
    LIMIT 10
)
{_union_widget_sql(_DAY_WIDGET_METRICS, "CAST(date AS VARCHAR)")}
UNION ALL
SELECT 'widget_day_peak_orders' AS widget, bucket,
       CAST(total_abandoned_orders AS DOUBLE) AS metric_value FROM peak
UNION ALL
SELECT 'widget_day_peak_value' AS widget, bucket,
       CAST(total_value_orders AS DOUBLE) AS metric_value FROM peak
ORDER BY widget ASC, bucket ASC
""",
)
def dashboard_day_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard 'Abandonment analytics by day' as ONE query [Q-dash-day]:
    the daily mart (ref ``py:490-515``) computed once, unpivoted into long
    rows ``(widget, bucket, metric_value)`` for the four re-aggregation
    widgets (``dbc:cmd3-5,36``), plus the top-10 peak-day widget
    (``dbc:cmd8-10`` analog) as two metric rows per peak day.

    Consolidates 5 former registry names (widget_day_value_items/_orders/
    _items/_value_orders + widget_day_peak) into one multi-row oracle —
    identical per-widget values, one driver row (capacity policy, r10;
    the value equivalence is pinned in tests/test_dashboards.py).

    Scale shape: the mart is a calendar-bounded aggregate (~90 rows at
    any SF — the window is 3 months of DAYS, independent of fact size),
    and it is computed ONCE: the peak widget's top-10 membership comes
    from a row_number window over those ~90 rows (not a second mart
    lineage — a union of mart-derived branches defeats exchange reuse
    because each branch prunes different columns), so all six widgets
    unpivot from a single generator pass and the fact-table cost is the
    mart's two pre-aggregations, paid once per assembly instead of once
    per widget (5x at the old granularity).
    """
    from pyspark.sql import Window

    mart = marts.abandonment_by_day(spark, sf_dir)
    # rank in its own projection: a window in the same select as the stack
    # generator would be evaluated over the GENERATED rows (6 per day),
    # ranking stack output instead of days
    wide = mart.select(
        "*",
        F.row_number()
        .over(
            Window.orderBy(
                F.col("total_abandoned_orders").desc(), F.col("date").desc()
            )
        )
        .alias("_rk"),
    )
    long = wide.select(
        "_rk",
        F.col("date").cast("string").alias("bucket"),
        F.expr(
            _stack_widgets(
                _DAY_WIDGET_METRICS
                + [
                    ("widget_day_peak_orders", "total_abandoned_orders"),
                    ("widget_day_peak_value", "total_value_orders"),
                ]
            )
        ),
    )
    return (
        long.where(
            (~F.col("widget").startswith("widget_day_peak"))
            | (F.col("_rk") <= 10)
        )
        .select("widget", "bucket", "metric_value")
        .orderBy(F.col("widget").asc(), F.col("bucket").asc())
    )


@query(
    "dashboard_month_assembly",
    oracle=f"""
WITH q AS ({marts._mart_sql("month")})
{_union_widget_sql(_MONTH_WIDGET_METRICS, "year_month")}
UNION ALL
SELECT 'widget_month_totals' AS widget, mname AS bucket, metric_value
FROM (
    SELECT CAST(CAST(SUM(total_abandoned_orders) AS BIGINT) AS DOUBLE)
               AS total_abandoned_orders,
           {sum_value_sql("total_value_orders")} AS total_value_orders,
           {sum_value_sql("total_abandoned_items")} AS total_abandoned_items,
           {sum_value_sql("total_value_items")} AS total_value_items
    FROM q
) UNPIVOT (metric_value FOR mname IN (
    total_abandoned_orders, total_value_orders,
    total_abandoned_items, total_value_items))
ORDER BY widget ASC, bucket ASC
""",
)
def dashboard_month_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard 'Abandonment analytics by month' as ONE query
    [Q-dash-month]: the monthly mart (ref ``py:449-474``) computed once,
    unpivoted into long rows ``(widget, bucket, metric_value)`` for the
    four re-aggregation widgets (``dbc:cmd8-10,35`` analogs), plus the
    grand-totals widget (former ``widget_month_totals``) as four rows
    whose bucket is the metric name.

    Consolidates 5 former registry names (widget_month_value_items/
    _orders/_items/_value_orders + widget_month_totals) into one
    multi-row oracle — identical per-widget values, one driver row
    (capacity policy, r10; value equivalence pinned in
    tests/test_dashboards.py).

    Scale shape: identical to the day assembly — the mart is 12 rows by
    construction at any SF and computed ONCE: the grand totals come from
    unbounded windows over those 12 rows (emitted on the rank-1 row
    only), so the widget rows and the totals rows unpivot from a single
    generator pass. Fact-table cost paid once per assembly.
    """
    from pyspark.sql import Window

    mart = marts.abandonment_by_month(spark, sf_dir)
    w_all = Window.orderBy(F.col("year_month").asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # ADVICE r10: the mart's monetary metrics are already on a 2-decimal
    # grid; carry them as integer CENTS through the grand-total SUM (exact,
    # summation-order independent) and divide only at emission, so a
    # last-ulp .xx5-boundary difference in Spark-vs-DuckDB summation order
    # can never flip a cent (the r7 gapfill hazard class at n=12).
    def _cents_total(col: str):
        return F.sum(cents(col)).over(w_all) / 100.0

    tot_cols = [
        F.sum("total_abandoned_orders")
        .over(w_all)
        .cast("bigint")
        .cast("double")
        .alias("t_orders"),
        _cents_total("total_value_orders").alias("t_vorders"),
        _cents_total("total_abandoned_items").alias("t_items"),
        _cents_total("total_value_items").alias("t_vitems"),
        F.row_number()
        .over(Window.orderBy(F.col("year_month").asc()))
        .alias("_rk"),
    ]
    wide = mart.select("*", *tot_cols)
    long = wide.select(
        "_rk",
        F.expr(
            f"stack({len(_MONTH_WIDGET_METRICS) + 4}, "
            + ", ".join(
                f"'{w}', year_month, CAST({m} AS DOUBLE)"
                for w, m in _MONTH_WIDGET_METRICS
            )
            + ", 'widget_month_totals', 'total_abandoned_orders', t_orders"
            ", 'widget_month_totals', 'total_value_orders', t_vorders"
            ", 'widget_month_totals', 'total_abandoned_items', t_items"
            ", 'widget_month_totals', 'total_value_items', t_vitems"
            ") AS (widget, bucket, metric_value)"
        ),
    )
    return (
        long.where(
            (F.col("widget") != "widget_month_totals") | (F.col("_rk") == 1)
        )
        .select("widget", "bucket", "metric_value")
        .orderBy(F.col("widget").asc(), F.col("bucket").asc())
    )


def materialize_marts(spark: SparkSession, sf_dir: str, database: str = "marts") -> None:
    """Reference architecture (§4.1): persist the marts so dashboards re-scan
    small tables instead of recomputing the base aggregation."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    save_table(marts.abandonment_by_month(spark, sf_dir), f"{database}.abandonment_analytics_month")
    save_table(marts.abandonment_by_day(spark, sf_dir), f"{database}.abandonment_analytics_day")


def dashboard_by_day(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Dashboard 'Abandonment analytics by day' (dbc:dashboards[0], 4 widgets)."""
    return {
        n: WIDGETS[n](spark, sf_dir)
        for n in ("widget_day_value_items", "widget_day_orders",
                  "widget_day_items", "widget_day_value_orders")
    }


def dashboard_by_month(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Dashboard 'Abandonment analytics by month' (dbc:dashboards[1])."""
    return {
        n: WIDGETS[n](spark, sf_dir)
        for n in ("widget_month_value_items", "widget_month_orders",
                  "widget_month_items", "widget_month_value_orders")
    }
