"""Semi-structured (JSON) extraction over ``events.props`` — extension
surface (SURVEY.md §7 Stage 3; no JSON exists in the reference, which has
only primitive columns, SURVEY.md §1.2).

Stays JVM-side: ``get_json_object`` / ``from_json`` are built-in Catalyst
expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from databricks_spark_sql_challenge1_spark.catalog import load_table
from databricks_spark_sql_challenge1_spark.registry import query

# Degenerate-payload contract (round-13 fuzz): ``k`` counts only when it
# is a JSON INTEGER literal; strings ("5"), floats (2.7), booleans,
# null, a missing key, or a malformed/empty props all yield NULL — which
# is exactly what Spark's ``from_json`` with a LongType field does
# (measured), so every Spark-side extraction goes through from_json.
# get_json_object cannot implement the contract: it strips the quotes
# off a JSON STRING value ("5" reads back as the bare text 5 — measured
# in the relational fuzz), and so does DuckDB's json_extract_string; the
# DuckDB gate therefore runs on the RAW json_extract text below, and the
# whole thing sits under a json_valid CASE (bare json_extract ABORTS on
# malformed JSON where every Spark JSON function is total).
_K_INT_RE = "^-?[0-9]+$"
# The gate runs on the RAW JSON text (CAST(json_extract(...) AS VARCHAR)
# keeps quotes: integer 5 -> '5', string "5" -> '"5"'), because
# json_extract_string strips quotes and would let a JSON STRING "5" pass
# where Spark's from_json/integer contract nulls it (measured in the
# relational fuzz). The outer json_valid CASE keeps the aborting
# json_extract away from malformed payloads.
# TRY_CAST, not CAST: a JSON integer in [2^63, 2^64) passes the digit
# regex but overflows BIGINT — DuckDB CAST aborts where Spark's
# from_json returns NULL (round-13 review; fuzz payload pins it)
_K_SQL = (
    "CASE WHEN json_valid(props) THEN (CASE WHEN regexp_matches("
    f"CAST(json_extract(props, '$.k') AS VARCHAR), '{_K_INT_RE}') "
    "THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END) END"
)


def _k_long() -> F.Column:
    schema = StructType([StructField("k", LongType())])
    return F.from_json("props", schema).getField("k")


@query(
    "events_json_extract",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM({_K_SQL}) AS BIGINT) AS sum_k,
       ROUND(CAST(SUM({_K_SQL}) * 10000 AS DOUBLE) / COUNT({_K_SQL}))
           / 10000.0 + 0 AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type ASC NULLS FIRST
""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract ``props.$.k`` (one typed ``from_json`` parse — see the
    integer-k contract above) and aggregate per event type. ``avg_k``
    carries the oracle-side ``+ 0``: k admits negative integers, so a
    group average can round to DuckDB's ``-0.0`` (CLAUDE.md rule), and
    uses the integer-grain formulation (SUM(k)*10^4 / COUNT(k), scale-0
    ROUND, /10^4 — denominator COUNT(k), matching AVG's NULL-skipping):
    ``ROUND(AVG(int), 4)`` lands a group of 800 events with k-sum
    -2599 exactly ON the .00005 boundary where the engines round apart
    (r18 integer-average scan; the lang_stats witness measured the
    scale-2 sibling end-to-end)."""
    events = load_table(spark, sf_dir, "events", spread=True)
    k = _k_long()
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            (
                F.round((F.sum("k") * 10000).cast("double") / F.count("k"))
                / 10000.0
            ).alias("avg_k"),
        )
        .orderBy(F.col("event_type").asc())
    )


@query(
    "events_json_schema",
    oracle=f"""
SELECT {_K_SQL} % 10 AS k_bucket,
       COUNT(*) AS n_events
FROM events
GROUP BY 1
ORDER BY k_bucket ASC NULLS FIRST
""",
)
def events_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``from_json`` with an explicit schema (the scalable path: one parse,
    typed struct, prunable) then bucket-aggregate — the parse is the
    shared ``_k_long`` helper so the integer-k contract stays
    single-sourced (round-13 review)."""
    events = load_table(spark, sf_dir, "events", spread=True)
    return (
        events.select((_k_long() % 10).alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("k_bucket").asc_nulls_first())
    )


@query(
    "events_json_nested",
    oracle=f"""
WITH env AS (
    SELECT to_json(struct_pack(
               meta := struct_pack(u := user_id, t := event_type),
               vals := [{_K_SQL}, {_K_SQL} * 2]
           )) AS payload
    FROM events
)
SELECT json_extract_string(payload, '$.meta.t') AS t,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(payload, '$.vals[1]') AS BIGINT)) AS BIGINT)
           AS sum_v2,
       CAST(MAX(json_array_length(payload, '$.vals')) AS BIGINT) AS max_vals
FROM env
GROUP BY 1
ORDER BY t ASC NULLS FIRST
""",
)
def events_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct/array JSON round-trip: the fixture ``props`` payloads
    are flat (``{"k": N}``), so this query manufactures a nested envelope
    ``{"meta": {"u", "t"}, "vals": [k, 2k]}`` deterministically from event
    columns, parses it back with an explicit *nested* ``from_json`` schema
    (struct-in-struct + array field — the shape real event payloads take),
    and aggregates on fields extracted from both nesting levels. Both
    engines build the envelope with their native JSON serializer
    (``to_json(struct(...))`` / DuckDB ``to_json(struct_pack(...))``) so
    string fields are properly escaped — a quote or backslash in
    ``event_type`` cannot malform the payload on either side (ADVICE r5;
    the previous hand-concatenated envelope relied on the fixture's
    JSON-safe event types).

    Scale: both the envelope build and the parse are Catalyst expressions
    inside whole-stage codegen — one scan, no shuffle before the final
    per-type aggregate.
    """
    events = load_table(spark, sf_dir, "events", spread=True)
    k = _k_long()
    payload = F.to_json(
        F.struct(
            F.struct(
                F.col("user_id").alias("u"), F.col("event_type").alias("t")
            ).alias("meta"),
            F.array(k, k * 2).alias("vals"),
        )
    )
    schema = StructType(
        [
            StructField(
                "meta",
                StructType(
                    [
                        StructField("u", LongType()),
                        StructField("t", StringType()),
                    ]
                ),
            ),
            StructField("vals", ArrayType(LongType())),
        ]
    )
    return (
        events.select(F.from_json(payload, schema).alias("j"))
        .select(
            F.col("j.meta.t").alias("t"),
            F.element_at("j.vals", 2).alias("v2"),
            F.size("j.vals").cast("long").alias("n_vals"),
        )
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v2").alias("sum_v2"),
            F.max("n_vals").alias("max_vals"),
        )
        .orderBy(F.col("t").asc())
    )
