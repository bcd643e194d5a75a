"""User-facing facade: one object wrapping session + dataset directory so
every registered query/pipeline is a method call — the ergonomic equivalent
of the reference notebook's cell flow for a user switching over.

    from databricks_spark_sql_challenge1_spark.engine import Engine
    eng = Engine.local()                       # or Engine(spark, sf_dir)
    eng.query("top_abandoned_products").show()
    eng.run_pipeline("/tmp/work")              # full notebook-flow analog
    eng.names()                                # every registered query name
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

import databricks_spark_sql_challenge1_spark.operators  # noqa: F401  (registers)
from databricks_spark_sql_challenge1_spark.catalog import (
    DEFAULT_SF_DIR,
    ensure_session_confs,
    load_table,
    register_views,
)
from databricks_spark_sql_challenge1_spark.registry import ORACLES, QUERIES


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        ensure_session_confs(spark)
        self.spark = spark
        self.sf_dir = sf_dir

    @classmethod
    def local(cls, sf_dir: str = DEFAULT_SF_DIR) -> "Engine":
        from databricks_spark_sql_challenge1_spark.session import get_spark

        return cls(get_spark(), sf_dir)

    # --- catalog ----------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def register_views(self) -> None:
        register_views(self.spark, self.sf_dir)

    def sql(self, query: str) -> DataFrame:
        """The reference's literal API (``spark.sql`` over registered
        tables, ref ``py:112`` etc.): fixture tables are registered as views
        on first use, then any SQL runs against them."""
        self.register_views()
        return self.spark.sql(query)

    # --- queries ----------------------------------------------------------
    @staticmethod
    def names() -> list[str]:
        return sorted(QUERIES)

    def query(self, name: str) -> DataFrame:
        if name not in QUERIES:
            import difflib

            hint = difflib.get_close_matches(name, QUERIES, n=3)
            raise KeyError(f"unknown query {name!r}; close matches: {hint}")
        return QUERIES[name](self.spark, self.sf_dir)

    @staticmethod
    def oracle(name: str) -> str | None:
        return ORACLES.get(name)

    # --- pipeline / dashboards -------------------------------------------
    def run_pipeline(self, work_dir: str):
        from databricks_spark_sql_challenge1_spark.pipeline import (
            run_reference_pipeline,
        )

        return run_reference_pipeline(self.spark, self.sf_dir, work_dir)

    def dashboards(self) -> dict[str, dict[str, DataFrame]]:
        from databricks_spark_sql_challenge1_spark.operators.dashboards import (
            dashboard_by_day,
            dashboard_by_month,
        )

        return {
            "by_day": dashboard_by_day(self.spark, self.sf_dir),
            "by_month": dashboard_by_month(self.spark, self.sf_dir),
        }
