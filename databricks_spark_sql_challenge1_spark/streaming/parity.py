"""Driver-verifiable batch parity for the streaming surface.

The eight live ``streaming_*`` operators are rows-only by design: a live
stream has no DuckDB oracle. But the ``availableNow`` drain used throughout
events_stream.py is Spark's batch-equivalent execution mode — the drained
result of each stream IS the batch aggregate, which is SQL-expressible. Each
``streaming_parity_*`` twin below calls the rows-only query it vouches for
(click attribution: the join builder that query calls, with its own final
``purchase_value`` expression) and registers the batch twin's DuckDB oracle
against the drained output. A green hash row therefore certifies end-to-end
that the streaming operator, its state handling, and its drain reproduce the
declarative batch semantics. The one exception is the stateful profile:
``streaming_parity_user_state`` is its own integer-cents pipeline (below).

Alignment notes (CLAUDE.md rules):
  - tumbling / session / nation reuse the batch twins' exact agg
    expressions (COUNT + ROUND(SUM(value), 2)) so the oracle text is the
    twins' oracle text — proven green since r4;
  - the stateful-profile parity accumulates integer CENTS inside the
    ``applyInPandasWithState`` state (per-row ROUND(value*100) computed
    JVM-side before the stateful op) so cross-micro-batch float
    accumulation order can never flip a rounding boundary;
  - DuckDB SUM(BIGINT) widens to HUGEINT → CAST back to BIGINT.

Reference: the original notebook has no streaming surface (SURVEY.md §2.10);
this parity family is part of the extension streaming stack.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import (
    ensure_session_confs,
    load_table,
)
from databricks_spark_sql_challenge1_spark.registry import fill_doc, query
from databricks_spark_sql_challenge1_spark.streaming.events_stream import (
    GAP_ALERT_US,
    _click_attribution,
    _drain_to_memory,
    _events_stream,
    scratch_dir,
    streaming_dedup_events,
    streaming_gap_monitor,
    streaming_incremental_dedup,
    streaming_nation_activity,
    streaming_session_30m,
    streaming_tumbling_1h,
)
from databricks_spark_sql_challenge1_spark.streaming.ingest_sink import (
    _write_arrival_shard,
)


@query(
    "streaming_parity_tumbling_1h",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start ASC, event_type ASC NULLS FIRST
""",
)
def streaming_parity_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained tumbling-window stream vs the batch oracle: watermarked
    1-hour event-time windows per event type, executed as a real stream
    (window state + availableNow drain), hash-checked against
    ``events_tumbling_1h``'s DuckDB oracle."""
    return streaming_tumbling_1h(spark, sf_dir).orderBy("window_start", "event_type")


@query(
    "streaming_parity_session_30m",
    oracle="""
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        > INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id ASC, session_start ASC
""",
)
def streaming_parity_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained stateful session-window stream (30-minute gap, native
    streaming session state under a watermark) hash-checked against
    ``events_session_30m``'s gaps-and-islands DuckDB oracle."""
    return streaming_session_30m(spark, sf_dir).orderBy("user_id", "session_start")


@query(
    "streaming_parity_dedup",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_unique_users
FROM events
GROUP BY event_type
ORDER BY event_type ASC NULLS FIRST
""",
)
def streaming_parity_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming dedup→aggregate chain (dropDuplicates state under
    a watermark feeding a count) hash-checked against the batch
    COUNT(DISTINCT) it must equal — a replayed event double-counts iff the
    dedup state fails."""
    return streaming_dedup_events(spark, sf_dir).orderBy("event_type")


@query(
    "streaming_parity_user_state",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       MAX(ts) AS last_ts
FROM events
GROUP BY user_id
ORDER BY user_id ASC
""",
)
def streaming_parity_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator, exactly oracle-checkable: the
    per-user running profile of ``streaming_user_state`` re-expressed with
    INTEGER state (event count, value cents, last-seen µs) accumulated in
    ``applyInPandasWithState`` across micro-batches. Cents are computed
    JVM-side per row (ROUND(value*100) → BIGINT) before the stateful op, so
    every accumulation is exact integer arithmetic and the drained profile
    hash-matches the batch aggregate regardless of micro-batch order."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_cents", LongType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("c", LongType()),
            StructField("last_us", LongType()),
        ]
    )

    def update(key, batches, state: GroupState):
        n, c, last_us = state.get if state.exists else (0, 0, 0)
        for pdf in batches:
            n += len(pdf)
            c += int(pdf["cents"].sum())
            last_us = max(last_us, int(pdf["ts"].astype("int64").max()) // 1000)
        state.update((n, c, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_cents": [c],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    stream = _events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    profiled = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(
        profiled, spark, "update", ("user_id", "n_events")
    ).orderBy("user_id")


@query(
    "streaming_parity_click_attribution",
    oracle="""
SELECT p.user_id AS user_id,
       p.ts AS purchase_ts,
       c.ts AS click_ts,
       CAST(ROUND(p.value * 100) AS BIGINT) / 100.0 AS purchase_value
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL '30 minutes'
WHERE p.event_type = 'purchase'
  AND c.event_type = 'click'
ORDER BY user_id ASC, purchase_ts ASC, click_ts ASC
""",
)
def streaming_parity_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained stream-stream interval join (purchase ← preceding-30-minute
    clicks, both sides buffered in watermark-bounded join state) hash-
    checked against the identical batch interval join in DuckDB — append
    mode emits each matched pair exactly once iff the join state is
    correct."""
    return _click_attribution(
        spark,
        sf_dir,
        F.round(F.col("purchase_value") * 100).cast("long") / F.lit(100.0),
    ).orderBy("user_id", "purchase_ts", "click_ts")


@query(
    "streaming_parity_nation_activity",
    oracle="""
SELECT date_trunc('hour', e.ts) AS window_start,
       n.n_name AS nation,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY 1, 2
ORDER BY window_start ASC, nation ASC
""",
)
def streaming_parity_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained stream-static enrichment (events stream broadcast-joined to
    the customer→nation dimension chain, then windowed per nation)
    hash-checked against the identical batch join+window in DuckDB."""
    return streaming_nation_activity(spark, sf_dir).orderBy("window_start", "nation")


_GAP_MONITOR_ORACLE = f"""
WITH g AS (
    SELECT user_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
    FROM events
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(COALESCE(MAX(epoch_us(ts) - epoch_us(prev)), 0) AS BIGINT)
           AS max_gap_us,
       CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) - epoch_us(prev)
                                   > {GAP_ALERT_US} THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_gaps_over_1h
FROM g
GROUP BY user_id
ORDER BY user_id ASC
"""


@query("streaming_parity_gap_monitor", oracle=_GAP_MONITOR_ORACLE)
def streaming_parity_gap_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful gap/SLA monitor, hash-checked: its per-user metrics
    (event count, max inter-event gap in µs, gaps over the 1-hour alert
    threshold) are already exact integers carried in
    ``applyInPandasWithState`` state, so the drained profile equals the
    batch LAG() equivalent bit-for-bit — no diff column or rounding shim
    needed."""
    return streaming_gap_monitor(spark, sf_dir).orderBy("user_id")


def _incremental_dedup_oracle_sql() -> str:
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        _SIMHASH_SPLIT_HITS_SQL,
    )

    return f"""
WITH {_SIMHASH_SPLIT_HITS_SQL}
SELECT doc_id, CAST(n AS BIGINT) AS n_near_dups
FROM hits
ORDER BY doc_id ASC
"""


@query(
    "streaming_parity_incremental_dedup",
    oracle=_incremental_dedup_oracle_sql(),
)
def streaming_parity_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming near-dup admission control, hash-checked against the
    quadratic all-pairs oracle: the stream-side SimHash sign (pure
    expression pipeline), band-exploded stream-static join against the
    corpus band index, first-agreeing-band single emission, and streaming
    count must together flag exactly the docs with an existing near-dup
    (Hamming <= {h}) and count each neighbor exactly once — the band
    blocking is complete for Hamming <= {h} by pigeonhole, so the drained
    counts equal the oracle's brute-force join. This parity row is
    strictly stronger evidence than ``streaming_incremental_dedup``'s own
    rows-only driver re-run (same pipeline, hash-checked output), which
    is why that name parks outside the window this round."""
    return streaming_incremental_dedup(spark, sf_dir).orderBy("doc_id")


fill_doc(streaming_parity_incremental_dedup, h=3)


# --- watermark lateness accounting (VERDICT r11 #4c) ------------------------
# The parity twins above drain the whole fixture in one micro-batch, so the
# watermark never advances mid-stream and the late-data drop path is never
# exercised — the batch twins only IMPLY the late semantics. This query
# manufactures a deterministic two-micro-batch arrival order (straggler
# rows arrive AFTER everything else), so the watermark computed at the end
# of micro-batch 1 actually drops stragglers for closed windows in
# micro-batch 2, and the drained per-window counts pin Spark's late-data
# rule exactly: a late row survives iff its window END is above the
# watermark (max event time of batch 1 minus the delay).
LATE_MOD = 7  # stragglers = event_id % LATE_MOD == LATE_RESIDUE (~14%)
LATE_RESIDUE = 3
LATE_WATERMARK = "1 hour"


@query(
    "streaming_parity_lateness",
    oracle=f"""
WITH wm AS (
    SELECT max(ts) - INTERVAL '{LATE_WATERMARK}' AS wm
    FROM events WHERE event_id % {LATE_MOD} <> {LATE_RESIDUE}
),
e AS (
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(ROUND(value * 100) AS BIGINT) AS cents,
           (event_id % {LATE_MOD} = {LATE_RESIDUE}) AS is_late
    FROM events
),
surv AS (
    SELECT e.* FROM e, wm
    WHERE NOT is_late OR window_start + INTERVAL '1 hour' > wm.wm
),
s AS (
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_surv,
           CAST(SUM(CASE WHEN is_late THEN 0 ELSE 1 END) AS BIGINT)
               AS n_ontime,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM surv GROUP BY window_start
),
tot AS (
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM events GROUP BY 1
)
SELECT s.window_start,
       s.n_ontime,
       s.n_surv - s.n_ontime AS n_late_kept,
       tot.n_total - s.n_surv AS n_dropped,
       s.sum_cents
FROM s JOIN tot ON tot.window_start = s.window_start
ORDER BY s.window_start ASC
""",
)
def streaming_parity_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness accounting, hash-checked: events are re-staged as
    THREE parquet files — on-time rows, an EMPTY spacer file, then the
    stragglers (event_id % {LATE_MOD} == {LATE_RESIDUE}) — and streamed
    with maxFilesPerTrigger=1 under availableNow, so Spark processes
    exactly three micro-batches in mtime order. The spacer batch exists
    because Spark's late-event filter runs one batch BEHIND eviction
    (measured here: in batch N the filter uses the watermark derived from
    batches <= N-2 — the eventTimeWatermarkForLateEvents half of the
    post-3.4 two-watermark model — so with only two files the stragglers
    would be filtered against the initial 1970 watermark and nothing would
    ever drop). With the spacer, the straggler batch filters against
    exactly max(on-time ts) - delay: each straggler is DROPPED iff its
    1-hour window has closed (window end <= watermark) and ACCEPTED
    otherwise — update output mode, because complete mode disables
    watermark handling entirely. The drained per-window survivor counts
    joined to the batch totals yield (n_ontime, n_late_kept, n_dropped,
    sum_cents) per window; the oracle recomputes the identical rule
    declaratively, so a green hash row pins the drop/accept boundary, not
    just the happy path. Boundary inclusivity is measured STRICT (a window
    ending exactly at the watermark is dropped; Spark's ms-floored
    watermark is equivalent to the oracle's full-us compare because window
    ends are whole hours — pinned by
    tests/test_streaming.py::test_lateness_boundary_inclusivity_is_strict). Value sums ride as integer cents (computed before
    the stream, per CLAUDE.md) so cross-micro-batch accumulation is exact.

    Scale shape: the staging split is one pass over the source (in
    production the two "files" are what arrival order already gives you —
    no staging step exists); the stream itself is the standard watermarked
    tumbling aggregate with O(open windows) state, and the accounting join
    is window-grain (720 rows/month), broadcast-tiny at any corpus scale.
    """
    ensure_session_confs(spark)
    with scratch_dir("lateness_") as scratch:
        events = load_table(spark, sf_dir, "events").select(
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            (F.col("event_id") % LATE_MOD == LATE_RESIDUE).alias("is_late"),
        )
        stream_dir = os.path.join(scratch, "stream")
        os.makedirs(stream_dir)
        phases = [
            events.where(~F.col("is_late")),
            events.where(F.lit(False)),  # empty spacer batch (see docstring)
            events.where(F.col("is_late")),
        ]
        for i, frame in enumerate(phases):
            _write_arrival_shard(frame.select("ts", "cents"), scratch, stream_dir, i)
        stream = (
            spark.readStream.schema("ts timestamp, cents bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(stream_dir)
        )
        agg = (
            stream.withWatermark("ts", LATE_WATERMARK)
            .groupBy(F.window("ts", "1 hour"))
            .agg(
                F.count(F.lit(1)).alias("n_surv"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "n_surv",
                "sum_cents",
            )
        )
        # update mode re-emits a window when batch 2 adds accepted late
        # rows; counts only grow, so the max-n_surv emission is the settled
        # state. Materialized before the scratch dir is removed.
        drained = _drain_to_memory(
            agg, spark, "update", ("window_start", "n_surv")
        ).localCheckpoint()
    batch = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("window_start"),
        (F.col("event_id") % LATE_MOD == LATE_RESIDUE).alias("is_late"),
    )
    tot = batch.groupBy("window_start").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("is_late"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_ontime"),
    )
    return (
        drained.join(tot, "window_start")
        .select(
            "window_start",
            "n_ontime",
            (F.col("n_surv") - F.col("n_ontime")).cast("bigint").alias("n_late_kept"),
            (F.col("n_total") - F.col("n_surv")).cast("bigint").alias("n_dropped"),
            F.col("sum_cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy(F.col("window_start").asc())
    )
