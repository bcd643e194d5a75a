"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference notebook (AdemirCastro/databricks-spark-sql-challenge1,
``src/TyreStore Challenge.py``), rebuilt Spark-first on the driver-provided
TPC-H-ish fixtures (see SURVEY.md / FIXTURES.md).

Layout:
    session.py    SparkSession factory (AQE, UTC, broadcast/skew settings)
    catalog.py    parquet loaders + temp-view registration + scalar anchors
    sources/      ingestion (CSV/parquet/zip), calendar dim, export, overwrite
    operators/    the 14 reference query analogs + LLM-pipeline extensions
    functions/    scalar helpers (date windows, text, vectors)
    plans/        plan-inspection utilities (pushdown/broadcast assertions,
                  the per-query operator fingerprint in PLANS.json)
    streaming/    Structured Streaming path over the events table
"""

from databricks_spark_sql_challenge1_spark.session import get_spark  # noqa: F401
from databricks_spark_sql_challenge1_spark.registry import QUERIES, ORACLES  # noqa: F401
