"""Reference queries #1-#8: counts, compound predicates, the flagship
top-abandoned-products query, pair mining, and the MoM/YoY trend queries.

Fixture mapping (FIXTURES.md): carts→orders, cartentries→lineitem,
"abandoned" (``p_paymentinfo IS NULL``, ref ``py:184``) → ``o_orderstatus='O'``.
All implementations are DataFrame-API (declarative → Catalyst optimizes:
filter pushdown to the parquet scan, broadcast/SMJ selection, partial
aggregation, TakeOrderedAndProject for the top-k patterns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_spark_sql_challenge1_spark.catalog import last_order_datetime, load_table
from databricks_spark_sql_challenge1_spark.functions.datetime import shift_months
from databricks_spark_sql_challenge1_spark.registry import query

# Documented synthetic predicate for the "carts with no price" analog
# (FIXTURES.md §"Fixture semantics" item 1: no zero/NULL prices exist in the
# fixtures, so a fixed threshold stands in; identical in engine and oracle).
NO_PRICE_THRESHOLD = 25000.0


@query(
    "count_distinct_orders",
    oracle="""
SELECT (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS number_of_orders,
       (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS number_of_order_entries
""",
)
def count_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #1 (``py:112-120``): COUNT(DISTINCT) sanity counts, one row."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    a = orders.agg(F.countDistinct("o_orderkey").alias("number_of_orders"))
    b = lineitem.agg(F.countDistinct("l_orderkey").alias("number_of_order_entries"))
    return a.crossJoin(b)


@query(
    "orders_no_price",
    oracle=f"""
SELECT COUNT(DISTINCT o_orderkey) AS orders_no_price
FROM orders
WHERE (o_totalprice < {NO_PRICE_THRESHOLD} OR o_totalprice IS NULL)
  AND (o_orderstatus = 'O' OR o_orderstatus IS NULL)
""",
)
def orders_no_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #2 (``py:129-133``): compound parenthesised NULL-tolerant predicate."""
    orders = load_table(spark, sf_dir, "orders")
    pred = (
        (F.col("o_totalprice") < NO_PRICE_THRESHOLD) | F.col("o_totalprice").isNull()
    ) & ((F.col("o_orderstatus") == "O") | F.col("o_orderstatus").isNull())
    return orders.where(pred).agg(F.countDistinct("o_orderkey").alias("orders_no_price"))


@query(
    "valid_orders",
    oracle=f"""
SELECT COUNT(DISTINCT o.o_orderkey) AS number_of_orders,
       COUNT(DISTINCT l.l_orderkey) AS number_of_order_entries
FROM lineitem l
RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice >= {NO_PRICE_THRESHOLD}
""",
)
def valid_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #3 (``py:142-153``): filter + RIGHT JOIN + dual distinct counts.

    The WHERE predicate sits on the join's preserved (right) side, so
    null-extended lineitem rows survive (SURVEY.md §2.13 gotcha 2) and the
    two counts differ by exactly the entry-less orders.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    joined = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey, "right"
    ).where(F.col("o_totalprice") >= NO_PRICE_THRESHOLD)
    return joined.agg(
        F.countDistinct("o_orderkey").alias("number_of_orders"),
        F.countDistinct("l_orderkey").alias("number_of_order_entries"),
    )


@query(
    "clean_orders",
    oracle=f"""
SELECT * FROM orders WHERE o_totalprice >= {NO_PRICE_THRESHOLD}
""",
)
def clean_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #4 (``py:162-166``) filter stage of the clean-and-overwrite step.

    The destructive self-overwrite itself (S10) lives in
    ``sources.overwrite.staged_overwrite`` and is exercised by the pipeline
    test; the oracle checks the filter semantics on all columns.
    """
    return load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") >= NO_PRICE_THRESHOLD
    )


TOP_ABANDONED_PRODUCTS_SQL = """
SELECT l.l_partkey AS partkey,
       COUNT(DISTINCT o.o_orderkey) AS total_abandoned_orders
FROM lineitem l
RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'O'
GROUP BY l.l_partkey
ORDER BY total_abandoned_orders DESC, partkey ASC NULLS FIRST
LIMIT 100
"""


@query("top_abandoned_products", oracle=TOP_ABANDONED_PRODUCTS_SQL)
def top_abandoned_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #5 (``py:180-188``), the flagship: RIGHT JOIN + IS-NULL-analog
    filter + groupBy + COUNT(DISTINCT) + top-k.

    Orders with no lineitems null-extend into a NULL partkey group (gotcha 2)
    — that group must appear in the output, exactly like the reference's
    NULL-product row with 27,487 carts (``ipynb:cell15``).
    Physical plan: broadcast/SMJ per AQE, two-phase distinct aggregate,
    TakeOrderedAndProject for ORDER BY+LIMIT (no global sort).
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "right")
        .where(F.col("o_orderstatus") == "O")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.countDistinct("o_orderkey").alias("total_abandoned_orders"))
        .orderBy(
            F.col("total_abandoned_orders").desc(),
            F.col("partkey").asc_nulls_first(),
        )
        .limit(100)
    )


@query("top_abandoned_products_salted", oracle=TOP_ABANDONED_PRODUCTS_SQL)
def top_abandoned_products_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship through the explicit skew-salted aggregation path.

    The reference semantics make ``partkey`` genuinely skewed: every order
    with no entries null-extends into ONE hot NULL group (27,487 carts in the
    reference run, ``ipynb:cell15``; ~28% of fixture orders). At 100 TB that
    group overwhelms a single reducer, so ``salted_count_distinct`` splits it
    by hash(o_orderkey) into disjoint salt buckets — two balanced shuffles,
    then a SUM of partial distinct counts. Same oracle as
    ``top_abandoned_products``: results must be bit-identical to the direct
    plan (also pinned by tests/test_skew.py; measured effect in
    SCALE.md §Layout and skew levers).
    """
    from databricks_spark_sql_challenge1_spark.functions.skew import (
        salted_count_distinct,
    )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "right")
        .where(F.col("o_orderstatus") == "O")
        .select(F.col("l_partkey").alias("partkey"), "o_orderkey")
    )
    return (
        salted_count_distinct(joined, ["partkey"], "o_orderkey")
        .select(
            "partkey",
            F.col("distinct_o_orderkey").alias("total_abandoned_orders"),
        )
        .orderBy(
            F.col("total_abandoned_orders").desc(),
            F.col("partkey").asc_nulls_first(),
        )
        .limit(100)
    )


# Canonical top-100 co-abandonment pair-mining SQL (ref #6). This ONE string
# is the oracle of ``top_abandoned_pairs`` AND the shared ``pairs`` CTE body
# of every copurchase_* graph oracle (clustering.py imports it) — the Spark
# side of those queries derives its edges from ``top_abandoned_pairs``, so a
# single source of truth keeps the oracles from silently desyncing if the
# LIMIT or tiebreak ever changes (ADVICE r5).
TOP_ABANDONED_PAIRS_SQL = """
SELECT least(ce1.l_partkey, ce2.l_partkey) AS product_1,
       greatest(ce1.l_partkey, ce2.l_partkey) AS product_2,
       COUNT(DISTINCT o.o_orderkey) AS total_abandoned_orders
FROM lineitem ce1
JOIN lineitem ce2
  ON ce1.l_orderkey = ce2.l_orderkey AND ce1.l_partkey <> ce2.l_partkey
JOIN orders o ON ce1.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'O'
GROUP BY 1, 2
ORDER BY total_abandoned_orders DESC, product_1 ASC, product_2 ASC
LIMIT 100
"""


@query("top_abandoned_pairs", oracle=TOP_ABANDONED_PAIRS_SQL)
def top_abandoned_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #6 (``py:197-213``): pair mining with window dedup of mirrored pairs.

    The reference's comma-join + RIGHT JOIN + WHERE is net-inner (the WHERE's
    ``ce1.p_order = ce2.p_order`` discards null-extended rows — SURVEY.md
    §2.13 gotcha 1), so the Spark plan uses inner joins directly. Mirror
    dedup keeps the faithful W1 shape: row_number() over a canonical pair key
    (least/greatest replaces the reference's CASE/CONCAT — same grouping,
    ref ``py:201-204``) then ``rank = 1``.

    Scale note: the self-join is an equi-join on l_orderkey, so it shuffles
    once on the order key; pair explosion is bounded by per-order line counts
    (~7 max in TPC-H-like data), not by table size.
    """
    orders = load_table(spark, sf_dir, "orders", spread=True)
    ce1 = load_table(spark, sf_dir, "lineitem", spread=True).alias("ce1")
    ce2 = load_table(spark, sf_dir, "lineitem", spread=True).alias("ce2")
    grouped = (
        ce1.join(
            ce2,
            (F.col("ce1.l_orderkey") == F.col("ce2.l_orderkey"))
            & (F.col("ce1.l_partkey") != F.col("ce2.l_partkey")),
        )
        .join(orders, F.col("ce1.l_orderkey") == F.col("o_orderkey"))
        .where(F.col("o_orderstatus") == "O")
        .groupBy(
            F.col("ce1.l_partkey").alias("p1"), F.col("ce2.l_partkey").alias("p2")
        )
        .agg(F.countDistinct("o_orderkey").alias("total_abandoned_orders"))
    )
    w = Window.partitionBy(
        F.least("p1", "p2"), F.greatest("p1", "p2")
    ).orderBy("p1", "p2")
    return (
        grouped.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") == 1)
        .select(
            F.col("p1").alias("product_1"),
            F.col("p2").alias("product_2"),
            "total_abandoned_orders",
        )
        .orderBy(
            F.col("total_abandoned_orders").desc(),
            F.col("product_1").asc(),
            F.col("product_2").asc(),
        )
        .limit(100)
    )


def _abandoned_per_part_in_month(spark, sf_dir, year: int, month: int) -> DataFrame:
    """Shared subquery of #7/#8: abandoned-order count per part in a month
    window (ref ``py:227-240`` inner views)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "right")
        .where(
            (F.col("o_orderstatus") == "O")
            & (F.year("o_orderdate") == year)
            & (F.month("o_orderdate") == month)
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.countDistinct("o_orderkey").alias("cnt"))
    )


def _abandoned_per_part_in_year(spark, sf_dir, year: int) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "left")
        .where((F.col("o_orderstatus") == "O") & (F.year("o_orderdate") == year))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.countDistinct("o_orderkey").alias("cnt"))
    )


@query(
    "abandonment_mom_increase",
    oracle="""
WITH anchor AS (SELECT max(o_orderdate) AS t FROM orders),
last_m AS (
    SELECT l.l_partkey AS partkey, COUNT(DISTINCT o.o_orderkey) AS cnt
    FROM lineitem l RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
      AND year(o.o_orderdate) = (SELECT year(t - INTERVAL 1 MONTH) FROM anchor)
      AND month(o.o_orderdate) = (SELECT month(t - INTERVAL 1 MONTH) FROM anchor)
    GROUP BY l.l_partkey
),
prev_m AS (
    SELECT l.l_partkey AS partkey, COUNT(DISTINCT o.o_orderkey) AS cnt
    FROM lineitem l RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
      AND year(o.o_orderdate) = (SELECT year(t - INTERVAL 2 MONTH) FROM anchor)
      AND month(o.o_orderdate) = (SELECT month(t - INTERVAL 2 MONTH) FROM anchor)
    GROUP BY l.l_partkey
)
SELECT last_m.partkey,
       COALESCE(prev_m.cnt, 0) AS abandoned_orders_month_before_last,
       COALESCE(last_m.cnt, 0) AS abandoned_orders_last_month,
       COALESCE(last_m.cnt, 0) - COALESCE(prev_m.cnt, 0) AS increase
FROM last_m LEFT JOIN prev_m ON last_m.partkey = prev_m.partkey
WHERE COALESCE(last_m.cnt, 0) - COALESCE(prev_m.cnt, 0) > 0
ORDER BY increase DESC, last_m.partkey ASC NULLS FIRST
LIMIT 100
""",
)
def abandonment_mom_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #7 (``py:222-245``): month-over-month increase per product.

    Anchored on the S11 scalar (MAX(o_orderdate)); windows = anchor-1mo vs
    anchor-2mo. Drives FROM the last-month view (LEFT JOIN), so products new
    last month appear with a 0 prior count (gotcha 3). The reference's
    trailing GROUP BY over already-unique keys is a no-op and is dropped.
    """
    anchor = last_order_datetime(spark, sf_dir)
    y1, m1 = shift_months(anchor, -1)
    y2, m2 = shift_months(anchor, -2)
    last_m = _abandoned_per_part_in_month(spark, sf_dir, y1, m1).alias("last_m")
    prev_m = _abandoned_per_part_in_month(spark, sf_dir, y2, m2).alias("prev_m")
    increase = F.coalesce(F.col("last_m.cnt"), F.lit(0)) - F.coalesce(
        F.col("prev_m.cnt"), F.lit(0)
    )
    return (
        last_m.join(
            prev_m, F.col("last_m.partkey") == F.col("prev_m.partkey"), "left"
        )
        .select(
            F.col("last_m.partkey").alias("partkey"),
            F.coalesce(F.col("prev_m.cnt"), F.lit(0)).alias(
                "abandoned_orders_month_before_last"
            ),
            F.coalesce(F.col("last_m.cnt"), F.lit(0)).alias(
                "abandoned_orders_last_month"
            ),
            increase.alias("increase"),
        )
        .where(F.col("increase") > 0)
        .orderBy(F.col("increase").desc(), F.col("partkey").asc_nulls_first())
        .limit(100)
    )


@query(
    "abandonment_yoy_increase",
    oracle="""
WITH anchor AS (SELECT max(o_orderdate) AS t FROM orders),
cur_y AS (
    SELECT l.l_partkey AS partkey, COUNT(DISTINCT o.o_orderkey) AS cnt
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
      AND year(o.o_orderdate) = (SELECT year(t) FROM anchor)
    GROUP BY l.l_partkey
),
last_y AS (
    SELECT l.l_partkey AS partkey, COUNT(DISTINCT o.o_orderkey) AS cnt
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
      AND year(o.o_orderdate) = (SELECT year(t - INTERVAL 1 YEAR) FROM anchor)
    GROUP BY l.l_partkey
)
SELECT last_y.partkey,
       COALESCE(last_y.cnt, 0) AS abandoned_orders_last_year,
       COALESCE(cur_y.cnt, 0) AS abandoned_orders_current_year,
       COALESCE(cur_y.cnt, 0) - COALESCE(last_y.cnt, 0) AS increase
FROM cur_y RIGHT JOIN last_y ON cur_y.partkey = last_y.partkey
WHERE COALESCE(cur_y.cnt, 0) - COALESCE(last_y.cnt, 0) > 0
ORDER BY increase DESC, last_y.partkey ASC NULLS FIRST
LIMIT 100
""",
)
def abandonment_yoy_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #8 (``py:254-277``): year-over-year increase.

    Note the deliberate asymmetry vs #7 (gotcha 3): the inner views use
    LEFT JOIN (lineitem-preserving) and the outer join is RIGHT onto the
    *last-year* view, so only products already present last year survive.
    """
    anchor = last_order_datetime(spark, sf_dir)
    cur = _abandoned_per_part_in_year(spark, sf_dir, anchor.year).alias("cur_y")
    prev = _abandoned_per_part_in_year(spark, sf_dir, anchor.year - 1).alias("last_y")
    increase = F.coalesce(F.col("cur_y.cnt"), F.lit(0)) - F.coalesce(
        F.col("last_y.cnt"), F.lit(0)
    )
    return (
        cur.join(prev, F.col("cur_y.partkey") == F.col("last_y.partkey"), "right")
        .select(
            F.col("last_y.partkey").alias("partkey"),
            F.coalesce(F.col("last_y.cnt"), F.lit(0)).alias(
                "abandoned_orders_last_year"
            ),
            F.coalesce(F.col("cur_y.cnt"), F.lit(0)).alias(
                "abandoned_orders_current_year"
            ),
            increase.alias("increase"),
        )
        .where(F.col("increase") > 0)
        .orderBy(F.col("increase").desc(), F.col("partkey").asc_nulls_first())
        .limit(100)
    )
