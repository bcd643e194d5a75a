"""Bucketed-table support — the co-located-join lever that
SCALE.md §Layout and skew levers names as the fix for the one recurring
big×big shuffle (lineitem ⋈ orders on the order key, queries
#3/#5/#6/#12-#14).

Writing both facts bucketed by the join key into the same bucket count lets
Spark plan the join with ZERO Exchange on either side (asserted in
tests/test_bucketing.py) — at 100 TB that converts every order-grain join
from a full shuffle into a local zip of pre-sorted buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from databricks_spark_sql_challenge1_spark.catalog import load_table


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int = 16
) -> None:
    """Persist ``df`` as a managed table bucketed (and sorted) by the key."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def bucket_fact_tables(
    spark: SparkSession, sf_dir: str, database: str = "bucketed", n_buckets: int = 16
) -> None:
    """Bucket orders and lineitem on the order key into the same layout."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    write_bucketed(
        load_table(spark, sf_dir, "orders"), f"{database}.orders", "o_orderkey", n_buckets
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem"),
        f"{database}.lineitem",
        "l_orderkey",
        n_buckets,
    )


def bucketed_join(spark: SparkSession, database: str = "bucketed") -> DataFrame:
    """The order-grain join over the bucketed layout (shuffle-free)."""
    from pyspark.sql import functions as F

    orders = spark.table(f"{database}.orders")
    lineitem = spark.table(f"{database}.lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("order_line_value"),
        )
    )
