"""Reference query #12 (monthly + yearly variants): products launched in the
anchor window, with order/abandonment counts in their launch month.

Three-level nesting (ref ``py:364-397`` monthly, ``py:406-439`` yearly):
  innermost: per-product launch month = YEAR/MONTH(MIN(o_orderdate)) with
             HAVING on the MIN-derived values (A10);
  middle ×2: facts joined back on product, restricted to each product's own
             launch month (one counting all orders, one only abandoned);
  outer:     LEFT JOIN of the two middles + COALESCE.

The reference's RIGHT JOINs in the middle level are nullified by the WHERE on
launch_products columns (same gotcha-1 pattern) → implemented as inner joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import last_order_datetime, load_table, share
from databricks_spark_sql_challenge1_spark.functions.datetime import shift_months
from databricks_spark_sql_challenge1_spark.registry import query


def _launch_products(spark, sf_dir) -> DataFrame:
    """Innermost view: per-product (launch_year, launch_month) from the full
    history (lineitem RIGHT JOIN orders keeps entry-less orders in the NULL
    product group, which the HAVING then drops — ref ``py:368-375``)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "right")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.year(F.min("o_orderdate")).alias("launch_year"),
            F.month(F.min("o_orderdate")).alias("launch_month"),
        )
    )


_LAUNCH_SQL = """
    SELECT l.l_partkey AS partkey,
           CAST(year(MIN(o.o_orderdate)) AS INTEGER) AS launch_year,
           CAST(month(MIN(o.o_orderdate)) AS INTEGER) AS launch_month
    FROM lineitem l RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_partkey
"""


def _launch_query(spark, sf_dir, yearly: bool) -> DataFrame:
    anchor = last_order_datetime(spark, sf_dir)
    y1, m1 = shift_months(anchor, -1)
    launches = _launch_products(spark, sf_dir)
    if yearly:
        launches = launches.where(F.col("launch_year") == anchor.year - 1)
    else:
        launches = launches.where(
            (F.col("launch_year") == y1) & (F.col("launch_month") == m1)
        )
    # Result-equivalent single-pass form of the reference's two mirrored
    # subqueries LEFT JOINed back together (ref ``py:364-397``): one fact
    # join + conditional COUNT(DISTINCT) for the abandoned subset — the
    # COALESCE(...,0) semantics fall out of the conditional count.
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    facts = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
    return (
        launches.join(facts, launches.partkey == facts.l_partkey)
        .where(
            (F.year("o_orderdate") == F.col("launch_year"))
            & (F.month("o_orderdate") == F.col("launch_month"))
        )
        .groupBy("partkey", "launch_year", "launch_month")
        .agg(
            F.countDistinct("o_orderkey").alias("launch_month_orders"),
            F.countDistinct(
                F.when(F.col("o_orderstatus") == "O", F.col("o_orderkey"))
            ).alias("launch_month_abandoned_orders"),
        )
        .orderBy(
            F.col("launch_month_orders").desc(), F.col("partkey").asc_nulls_first()
        )
    )


def _oracle(having: str) -> str:
    return f"""
WITH anchor AS (SELECT max(o_orderdate) AS t FROM orders),
launches AS (
    SELECT * FROM ({_LAUNCH_SQL}) lp
    WHERE {having}
),
lc AS (
    SELECT lp.partkey, lp.launch_year, lp.launch_month,
           COUNT(DISTINCT o.o_orderkey) AS cnt
    FROM launches lp
    JOIN lineitem l ON lp.partkey = l.l_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE year(o.o_orderdate) = lp.launch_year
      AND month(o.o_orderdate) = lp.launch_month
    GROUP BY lp.partkey, lp.launch_year, lp.launch_month
),
la AS (
    SELECT lp.partkey, COUNT(DISTINCT o.o_orderkey) AS cnt
    FROM launches lp
    JOIN lineitem l ON lp.partkey = l.l_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE year(o.o_orderdate) = lp.launch_year
      AND month(o.o_orderdate) = lp.launch_month
      AND o.o_orderstatus = 'O'
    GROUP BY lp.partkey
)
SELECT lc.partkey, lc.launch_year, lc.launch_month,
       COALESCE(lc.cnt, 0) AS launch_month_orders,
       COALESCE(la.cnt, 0) AS launch_month_abandoned_orders
FROM lc LEFT JOIN la ON lc.partkey = la.partkey
ORDER BY launch_month_orders DESC, lc.partkey ASC NULLS FIRST
"""


@query(
    "launch_month_orders",
    oracle=_oracle(
        "lp.launch_year = (SELECT CAST(year(t - INTERVAL 1 MONTH) AS INTEGER) FROM anchor) "
        "AND lp.launch_month = (SELECT CAST(month(t - INTERVAL 1 MONTH) AS INTEGER) FROM anchor)"
    ),
)
def launch_month_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #12 monthly (``py:364-397``): products launched in anchor-1 month."""
    return _launch_query(spark, sf_dir, yearly=False)


@query(
    "launch_cohort_analysis",
    oracle=f"""
WITH launches AS ({_LAUNCH_SQL}),
cohort AS (
    SELECT lp.launch_year, lp.launch_month,
           COUNT(*) AS n_parts_launched
    FROM launches lp
    GROUP BY lp.launch_year, lp.launch_month
),
activity AS (
    SELECT lp.launch_year, lp.launch_month,
           COUNT(DISTINCT o.o_orderkey) AS launch_month_orders
    FROM launches lp
    JOIN lineitem l ON lp.partkey = l.l_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE year(o.o_orderdate) = lp.launch_year
      AND month(o.o_orderdate) = lp.launch_month
    GROUP BY lp.launch_year, lp.launch_month
)
SELECT c.launch_year, c.launch_month, c.n_parts_launched,
       COALESCE(a.launch_month_orders, 0) AS launch_month_orders
FROM cohort c
LEFT JOIN activity a
  ON c.launch_year = a.launch_year AND c.launch_month = a.launch_month
ORDER BY c.launch_year ASC NULLS FIRST, c.launch_month ASC NULLS FIRST
""",
)
def launch_cohort_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort variant of #12 without the anchor HAVING (non-vacuous on the
    fixtures, where every part launches early): per launch-month cohort,
    parts launched + distinct orders touching them in their launch month.
    Same 3-level machinery (MIN-derived grouping, self-joined facts).

    Round-18: ``launches`` (a full lineitem-join-orders MIN aggregate)
    feeds both the cohort count and the activity join; shared once
    (|parts| rows) instead of evaluating the launch subtree twice."""
    launches = share(_launch_products(spark, sf_dir), "launch_cohort.launches")
    cohort = launches.groupBy("launch_year", "launch_month").agg(
        F.count(F.lit(1)).alias("n_parts_launched")
    )
    orders = load_table(spark, sf_dir, "orders", spread=True)
    lineitem = load_table(spark, sf_dir, "lineitem", spread=True)
    facts = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
    activity = (
        launches.join(facts, launches.partkey == facts.l_partkey)
        .where(
            (F.year("o_orderdate") == F.col("launch_year"))
            & (F.month("o_orderdate") == F.col("launch_month"))
        )
        .groupBy("launch_year", "launch_month")
        .agg(F.countDistinct("o_orderkey").alias("launch_month_orders"))
    )
    c = cohort.alias("c")
    a = activity.alias("a")
    return (
        c.join(
            a,
            (F.col("c.launch_year") == F.col("a.launch_year"))
            & (F.col("c.launch_month") == F.col("a.launch_month")),
            "left",
        )
        .select(
            F.col("c.launch_year").alias("launch_year"),
            F.col("c.launch_month").alias("launch_month"),
            "n_parts_launched",
            F.coalesce(F.col("launch_month_orders"), F.lit(0)).alias(
                "launch_month_orders"
            ),
        )
        .orderBy(
            F.col("launch_year").asc_nulls_first(),
            F.col("launch_month").asc_nulls_first(),
        )
    )


@query(
    "launch_year_orders",
    oracle=_oracle(
        "lp.launch_year = (SELECT CAST(year(t - INTERVAL 1 YEAR) AS INTEGER) FROM anchor)"
    ),
)
def launch_year_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #12 yearly (``py:406-439``): products launched any month last year."""
    return _launch_query(spark, sf_dir, yearly=True)
