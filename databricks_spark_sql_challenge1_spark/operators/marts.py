"""Reference query #13 (+calendar dim S6, +dashboard-widget re-aggs Q2):
time-series abandonment marts via calendar-dimension left-joins.

Ref ``py:449-474`` (monthly, 12-month window) and ``py:490-515`` (daily,
3-month window): a generated calendar LEFT JOINs two pre-aggregated daily
views — the second joined **on the first view's date** (J8 quirk, faithfully
preserved) — then re-groups to month/day with COALESCE-to-0 metrics.

Float policy: monetary sums are ROUNDed to 2 decimals at the outer level on
both engines so summation-order drift cannot flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import last_order_datetime, load_table
from databricks_spark_sql_challenge1_spark.functions.datetime import (
    date_literal,
    month_start,
    shift_months,
)
from databricks_spark_sql_challenge1_spark.registry import query

_CAL_SQL = """
    SELECT CAST(unnest(generate_series(
        CAST((SELECT min(o_orderdate) FROM orders) AS DATE),
        CAST((SELECT max(o_orderdate) FROM orders) AS DATE),
        INTERVAL 1 DAY)) AS DATE) AS calendar_date
"""


def calendar_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 date-dimension generator (ref ``py:74-76``): explode(sequence(...)),
    bounded to the orders span instead of the reference's fixed 2000-2100."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.to_date(F.min("o_orderdate")).alias("lo"),
        F.to_date(F.max("o_orderdate")).alias("hi"),
    )
    return bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 day"))
        ).alias("calendar_date")
    )


@query("calendar_dim", oracle=_CAL_SQL)
def calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 calendar dimension [Q-calendar]: one row per day over the orders
    span via explode(sequence(...)) (ref ``py:74-76``)."""
    return calendar_df(spark, sf_dir)


def _daily_views(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """The two pre-aggregated daily views of ref ``py:453-465``."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    carts_ab = (
        orders.where(F.col("o_orderstatus") == "O")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.countDistinct("o_orderkey").alias("daily_orders"),
            F.sum("o_totalprice").alias("daily_value_orders"),
        )
    )
    items_ab = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "right")
        .where(F.col("o_orderstatus") == "O")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum("l_quantity").alias("daily_items"),
            F.sum("l_extendedprice").alias("daily_value_items"),
        )
    )
    return carts_ab, items_ab


def _joined_calendar(spark, sf_dir, months_back: int) -> DataFrame:
    """calendar LEFT JOIN carts_ab LEFT JOIN items_ab (on carts_ab's date),
    windowed to [month_start(anchor-months_back), anchor]."""
    anchor = last_order_datetime(spark, sf_dir)
    y0, m0 = shift_months(anchor, -months_back)
    lo = date_literal(month_start(y0, m0))
    hi = date_literal(anchor.date())
    cal = calendar_df(spark, sf_dir).where(
        F.col("calendar_date").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
    )
    carts_ab, items_ab = _daily_views(spark, sf_dir)
    return cal.join(
        carts_ab, cal.calendar_date == carts_ab.d, "left"
    ).join(items_ab, carts_ab.d == items_ab.d, "left")


# grain -> (months before the anchor's month the window opens, mart key,
# GROUP BY): ref py:449-474 is the last 12 months by year_month, ref
# py:490-515 the last 3 months by calendar date.
_GRAINS = {
    "month": (
        11,
        """concat(CAST(year(cal.calendar_date) AS VARCHAR), '-',
              lpad(CAST(month(cal.calendar_date) AS VARCHAR), 2, '0')) AS year_month""",
        "year_month",
    ),
    "day": (2, "cal.calendar_date AS date", "cal.calendar_date"),
}


def _mart_sql(grain: str) -> str:
    """The DuckDB month or day mart, unordered: the calendar LEFT JOIN the
    two daily views (the second on the first's date, the J8 quirk), each
    metric COALESCEd to 0 and the money sums ROUNDed to 2 decimals. The
    mart oracles order it; the dashboard oracles select from it."""
    months_back, key, group = _GRAINS[grain]
    return f"""
WITH anchor AS (SELECT max(o_orderdate) AS t FROM orders),
cal AS ({_CAL_SQL}),
ca AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           COUNT(DISTINCT o_orderkey) AS daily_orders,
           SUM(o_totalprice) AS daily_value_orders
    FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
),
ia AS (
    SELECT CAST(o.o_orderdate AS DATE) AS d,
           SUM(l.l_quantity) AS daily_items,
           SUM(l.l_extendedprice) AS daily_value_items
    FROM lineitem l RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O' GROUP BY 1
)
SELECT {key},
       CAST(COALESCE(SUM(ca.daily_orders), 0) AS BIGINT) AS total_abandoned_orders,
       ROUND(CAST(COALESCE(SUM(ca.daily_value_orders), 0) AS DOUBLE), 2) AS total_value_orders,
       ROUND(CAST(COALESCE(SUM(ia.daily_items), 0) AS DOUBLE), 2) AS total_abandoned_items,
       ROUND(CAST(COALESCE(SUM(ia.daily_value_items), 0) AS DOUBLE), 2) AS total_value_items
FROM cal
LEFT JOIN ca ON cal.calendar_date = ca.d
LEFT JOIN ia ON ca.d = ia.d
WHERE cal.calendar_date >= (SELECT CAST(date_trunc('month', t - INTERVAL {months_back} MONTH) AS DATE) FROM anchor)
  AND cal.calendar_date <= (SELECT CAST(t AS DATE) FROM anchor)
GROUP BY {group}
"""


def _mart_metrics() -> list:
    return [
        F.coalesce(F.sum("daily_orders"), F.lit(0)).alias("total_abandoned_orders"),
        F.round(F.coalesce(F.sum("daily_value_orders"), F.lit(0.0)), 2).alias(
            "total_value_orders"
        ),
        F.round(F.coalesce(F.sum("daily_items"), F.lit(0.0)), 2).alias(
            "total_abandoned_items"
        ),
        F.round(F.coalesce(F.sum("daily_value_items"), F.lit(0.0)), 2).alias(
            "total_value_items"
        ),
    ]


@query("abandonment_by_month", oracle=_mart_sql("month") + "ORDER BY year_month DESC")
def abandonment_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #13 monthly mart (``py:449-474``): last 12 months by year_month."""
    joined = _joined_calendar(spark, sf_dir, _GRAINS["month"][0])
    year_month = F.concat(
        F.year("calendar_date").cast("string"),
        F.lit("-"),
        F.lpad(F.month("calendar_date").cast("string"), 2, "0"),
    )
    return (
        joined.groupBy(year_month.alias("year_month"))
        .agg(*_mart_metrics())
        .orderBy(F.col("year_month").desc())
    )


@query("abandonment_by_day", oracle=_mart_sql("day") + "ORDER BY date DESC")
def abandonment_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #13 daily mart (``py:490-515``): last 3 months by calendar date
    (every calendar day appears, zero-filled — the reference's golden daily
    mart spans 86 contiguous rows)."""
    joined = _joined_calendar(spark, sf_dir, _GRAINS["day"][0])
    return (
        joined.groupBy(F.col("calendar_date").alias("date"))
        .agg(*_mart_metrics())
        .orderBy(F.col("date").desc())
    )


# --- dashboard widget re-aggregations (Q2 CTE analogs, dbc:cmd3-5,8-10) ----


# The two widgets below have no registration of their own: their rows are
# hash-checked inside dashboards.dashboard_month_assembly /
# dashboard_day_assembly, and tests/test_dashboards.py pins the assemblies
# against them.
def widget_month_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard widget analog (``dbc:cmd3-5``): WITH q AS (mart) → totals."""
    mart = abandonment_by_month(spark, sf_dir)
    return mart.agg(
        F.sum("total_abandoned_orders").alias("total_abandoned_orders"),
        F.round(F.sum("total_value_orders"), 2).alias("total_value_orders"),
        F.round(F.sum("total_abandoned_items"), 2).alias("total_abandoned_items"),
        F.round(F.sum("total_value_items"), 2).alias("total_value_items"),
    )


def widget_day_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard widget analog (``dbc:cmd8-10``): top-10 peak abandonment days."""
    mart = abandonment_by_day(spark, sf_dir)
    return (
        mart.select("date", "total_abandoned_orders", "total_value_orders")
        .orderBy(F.col("total_abandoned_orders").desc(), F.col("date").desc())
        .limit(10)
    )
