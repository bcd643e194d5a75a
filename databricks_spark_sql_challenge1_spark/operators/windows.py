"""Event-time windows over ``events`` (batch analogs; SURVEY.md §2.10 — the
reference has no streaming, its time-series path is the calendar join J8).
The true Structured Streaming path lives in ``streaming/``; these batch
versions are oracle-checkable.

Spark window semantics vs the DuckDB oracle:
  - tumbling 1h aligns to epoch → identical to date_trunc('hour').
  - sliding (1h window, 30m slide): each event belongs to 2 windows with
    starts time_bucket(30m, ts) and time_bucket(30m, ts) - 30m.
  - session (30m gap): Spark sessions are half-open [first, last+gap), and
    abutting windows MERGE — an event at exactly prev+gap stays in the
    session (measured, pinned by tests/test_fuzz_parity_relational.py's
    exact-30-minute pair); the oracle's lag/cumsum reconstruction starts a
    new session only on ``ts - prev > gap`` (strict) accordingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import load_table
from databricks_spark_sql_challenge1_spark.functions.cents import (
    cents,
    cents_sql,
    sum_value,
    sum_value_sql,
)
from databricks_spark_sql_challenge1_spark.registry import query

# The session gap of every session window, batch and streaming, and of the
# oracle's gaps-and-islands reconstruction (``_sessions_sql``).
SESSION_GAP = "30 minutes"


def _sessions_sql(source: str) -> str:
    """The gaps-and-islands sessionization of ``source`` (user_id, ts,
    event_id, value) as two oracle CTEs: ``flagged`` marks a row that
    opens a session (no earlier row, or more than SESSION_GAP after the
    previous one: strict, see the module docstring), and ``sessions``
    (user_id, ts, cents, session_id) numbers the sessions by a running
    sum of the marks. Both windows order by (ts, event_id), so rows
    sharing a timestamp get the same order in each."""
    return f"""flagged AS (
    SELECT user_id, ts, event_id, {cents_sql("value")} AS cents,
           CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        > INTERVAL '{SESSION_GAP}'
                THEN 1 ELSE 0 END AS new_session
    FROM {source}
),
sessions AS (
    SELECT user_id, ts, cents,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)"""


TUMBLING_1H_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sum_value_sql("value")} AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start ASC, event_type ASC NULLS FIRST
"""


@query("events_tumbling_1h", oracle=TUMBLING_1H_SQL)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type (F.window)."""
    events = load_table(spark, sf_dir, "events", spread=True)
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_value("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy(F.col("window_start").asc(), F.col("event_type").asc())
    )


@query(
    "events_sliding_1h_30m",
    oracle=f"""
WITH w AS (
    SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM events
    UNION ALL
    SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value FROM events
)
SELECT window_start,
       COUNT(*) AS n_events,
       {sum_value_sql("value")} AS sum_value
FROM w
GROUP BY 1
ORDER BY window_start ASC
""",
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide (each event in 2)."""
    events = load_table(spark, sf_dir, "events", spread=True)
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_value("value").alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n_events", "sum_value")
        .orderBy(F.col("window_start").asc())
    )


@query(
    "events_time_rollup",
    oracle=f"""
SELECT CAST(year(ts) AS INTEGER) AS y,
       CAST(month(ts) AS INTEGER) AS m,
       CAST(day(ts) AS INTEGER) AS d,
       COUNT(*) AS n_events,
       {sum_value_sql("value")} AS sum_value
FROM events
GROUP BY ROLLUP (y, m, d)
ORDER BY y ASC NULLS FIRST, m ASC NULLS FIRST, d ASC NULLS FIRST
""",
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: day → month → year →
    grand total in one pass (GROUP BY ROLLUP over the time hierarchy — the
    single-shuffle equivalent of maintaining three materialized rollup
    levels)."""
    events = load_table(spark, sf_dir, "events", spread=True)
    return (
        events.select(
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
            "value",
        )
        .rollup("y", "m", "d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_value("value").alias("sum_value"),
        )
        .orderBy(
            F.col("y").asc_nulls_first(),
            F.col("m").asc_nulls_first(),
            F.col("d").asc_nulls_first(),
        )
    )


SESSION_30M_SQL = f"""
WITH {_sessions_sql("events")}
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '{SESSION_GAP}' AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) / 100.0 AS sum_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id ASC, session_start ASC
"""


@query("events_session_30m", oracle=SESSION_30M_SQL)
def events_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap per user (F.session_window).

    At scale this is the shuffle-on-user_id + per-key ordered merge Spark
    implements natively; the stateful streaming variant is
    ``streaming.events_stream.streaming_session_30m``.
    """
    events = load_table(spark, sf_dir, "events", spread=True)
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_value("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy(F.col("user_id").asc(), F.col("session_start").asc())
    )


ROLLING_7D_S = 7 * 86400


@query(
    "events_rolling_7d_value",
    oracle=f"""
WITH e AS (
    SELECT event_id, user_id, ts,
           {cents_sql("value")} AS cents,
           CAST(floor(epoch(ts)) AS BIGINT) AS es
    FROM events
),
r AS (
    SELECT event_id, user_id, ts,
           CAST(SUM(cents) OVER w AS BIGINT) / 100.0 AS rolling_value,
           COUNT(*) OVER w AS rolling_n
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN {ROLLING_7D_S} PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, rolling_value, rolling_n
FROM r
ORDER BY rolling_value DESC, event_id ASC
LIMIT 100
""",
)
def events_rolling_7d_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-user value window (RANGE frame over event time) —
    the rolling-LTV / rate-limit primitive: for every event, the sum and
    count of that user's events in the preceding 7 days, topped by window
    value. Completes the frame-clause family (ROWS frames live in the
    session oracle; this is the interval RANGE frame).

    Scale shape: one shuffle on user_id, then a per-key ordered scan with a
    sliding two-pointer frame (Spark's native RANGE implementation) — no
    self-join expansion of the [t-7d, t] interval. Frame bounds are integer
    epoch seconds on both engines so peer groups agree exactly; top-k is
    TakeOrderedAndProject with an event_id tiebreak.

    The window rides integer CENTS, not ROUND(SUM(double), 2): Spark's
    ROUND(double, s) rounds the value's SHORTEST decimal representation
    (Java BigDecimal.valueOf) while DuckDB rounds the exact binary double,
    so a sum whose shortest form sits exactly on a half at scale 2 (a
    single -1.005 event) rounds apart — and the ORDER BY + LIMIT makes the
    flip pick different top rows (round-13 fuzz-parity find; the CLAUDE.md
    cents rule, applied at window grain).
    """
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events", spread=True)
    e = events.select(
        "event_id",
        "user_id",
        "ts",
        cents("value").alias("cents"),
        F.col("ts").cast("long").alias("es"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-ROLLING_7D_S, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            "ts",
            (F.sum("cents").over(w) / F.lit(100.0)).alias("rolling_value"),
            F.count(F.lit(1)).over(w).alias("rolling_n"),
        )
        .orderBy(F.col("rolling_value").desc(), F.col("event_id").asc())
        .limit(100)
    )


ANOMALY_Z = 2.0


@query(
    "events_hourly_anomaly",
    oracle=f"""
WITH h AS (
    SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
    FROM events GROUP BY event_type, date_trunc('hour', ts)
),
s AS (
    SELECT event_type, AVG(n) AS mu, STDDEV_SAMP(n) AS sd
    FROM h GROUP BY event_type
)
SELECT h.event_type, h.hour,
       CAST(h.n AS BIGINT) AS n_events,
       ROUND((h.n - s.mu) / s.sd, 3) + 0 AS zscore,
       ABS(ROUND((h.n - s.mu) / s.sd, 3)) >= {ANOMALY_Z} AS is_anomaly
FROM h JOIN s ON s.event_type = h.event_type
ORDER BY h.event_type ASC, h.hour ASC
""",
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly flags: z-score of each hour's event count against
    its event type's hourly mean/stddev — the monitoring query a streaming
    ingest pipeline runs over its own volume.

    Two aggregations over the same hourly rollup (groupBy, then a tiny
    per-type stats table joined back broadcast); both shuffles are on
    low-cardinality keys, and the hourly rollup is the only pass over raw
    events. z is rounded to 3 decimals on both engines before the threshold
    compare so stddev implementation drift (ulp-level) cannot flip a flag.
    """
    events = load_table(spark, sf_dir, "events", spread=True)
    h = (
        events.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = h.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sd")
    )
    # sd = 0 whenever a type's hourly counts are all equal (>= 2 identical
    # hours — r14 events fuzz): Spark / is an ANSI job-kill where DuckDB
    # yields NULL, so z, and both columns derived from it, go NULL on both
    # engines (CLAUDE.md degenerate-input rule).
    z = F.round(F.try_divide(F.col("n") - F.col("mu"), F.col("sd")), 3)
    return (
        h.join(F.broadcast(s), "event_type")
        .select(
            "event_type",
            "hour",
            F.col("n").cast("bigint").alias("n_events"),
            z.alias("zscore"),
            (F.abs(z) >= ANOMALY_Z).alias("is_anomaly"),
        )
        .orderBy(F.col("event_type").asc(), F.col("hour").asc())
    )


@query(
    "events_retention_cohorts",
    oracle="""
WITH f AS (
    SELECT user_id, CAST(MIN(date_trunc('week', ts)) AS DATE) AS cohort_week
    FROM events GROUP BY user_id
),
a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events)
SELECT f.cohort_week,
       CAST(datediff('day', f.cohort_week, a.wk) // 7 AS BIGINT) AS weeks_since,
       COUNT(DISTINCT a.user_id) AS n_active_users
FROM a JOIN f ON f.user_id = a.user_id
GROUP BY f.cohort_week, datediff('day', f.cohort_week, a.wk) // 7
ORDER BY f.cohort_week ASC, weeks_since ASC
""",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention grid: users grouped by first-activity week, counted
    in each subsequent week they stay active — the standard retention
    matrix, computed as two aggregates and an equi-join.

    The first-touch table is one shuffle on user_id and is far smaller than
    events (one row per user); it joins back to the distinct user-week
    activity with user_id co-partitioning, then the grid aggregate shuffles
    on (cohort_week, weeks_since) — low cardinality. Both week truncations
    are ISO-Monday on both engines.
    """
    events = load_table(spark, sf_dir, "events", spread=True)
    f = events.groupBy("user_id").agg(
        F.to_date(F.min(F.date_trunc("week", "ts"))).alias("cohort_week")
    )
    a = events.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    ).distinct()
    weeks_since = F.floor(
        F.datediff(F.col("wk"), F.col("cohort_week")) / 7
    ).cast("bigint")
    return (
        a.join(f, "user_id")
        .groupBy("cohort_week", weeks_since.alias("weeks_since"))
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .orderBy(F.col("cohort_week").asc(), F.col("weeks_since").asc())
    )
