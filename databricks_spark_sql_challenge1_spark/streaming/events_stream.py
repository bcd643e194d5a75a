"""Structured Streaming path over ``events`` — extension surface
(SURVEY.md §2.10: the reference has no streaming; this is the true-streaming
variant of operators/windows.py, with watermarks for late data).

Pattern: file-source readStream over the table parquet via the glob path
``{table}.parquet*`` — layout-agnostic: it matches the fixture's single
file (whose parent then serves as the directory ``basePath`` the file
source requires) AND a production-shaped ``{table}.parquet/`` DIRECTORY
of part-files, which the source recurses into. The previous
``pathGlobFilter={table}.parquet`` formulation matched LEAF FILE names
only, so a directory-shaped table silently streamed 0 rows (found by
``tools/parity_names.py --perturb layout``, r18; pinned in
tests/test_layout_invariance_contract.py). Event-time window agg behind
a watermark,
``availableNow`` trigger draining to a memory sink — the batch-equivalent
execution mode, so results can be asserted against the batch operators.

Custom stateful processing uses ``applyInPandasWithState`` because it runs
on every platform, while its Spark-4 successor's state server needs the
``protobuf`` package.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_spark_sql_challenge1_spark.catalog import (
    _heal_events_ts,
    table_path,
    table_schema,
)
from databricks_spark_sql_challenge1_spark.functions.text import ws_tokens
from databricks_spark_sql_challenge1_spark.registry import query

_SCRATCH_BASE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)


@contextmanager
def scratch_dir(prefix: str):
    """A fresh directory under the repo's ``spark-warehouse/``, removed on
    exit — anything read lazily from it must be materialized inside the
    ``with`` block."""
    os.makedirs(_SCRATCH_BASE, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_BASE)
    try:
        yield scratch
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """readStream over ``{table}.parquet`` with the schema pinned from the
    catalog (the one place table schemas are inferred). Glob path, not
    pathGlobFilter: the filter matches leaf FILE names only, so a
    directory-shaped ``{table}.parquet/`` (every production layout) would
    stream 0 rows; the glob resolves both shapes (module docstring;
    tests/test_layout_invariance_contract.py)."""
    raw_schema = table_schema(spark, sf_dir, table)
    return spark.readStream.schema(raw_schema).parquet(table_path(sf_dir, table) + "*")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events stream, nanos-long ts converted exactly as in
    catalog.load_table."""
    return _heal_events_ts(_table_stream(spark, sf_dir, "events"))


def _drain_to_memory(
    stream: DataFrame,
    spark: SparkSession,
    mode: str = "complete",
    latest: tuple[str, str] | None = None,
) -> DataFrame:
    """Run ``stream`` to completion (``availableNow``) into a memory sink in
    output ``mode`` and return the sink table. Update mode may emit a key
    once per micro-batch; ``latest=(key, counter)`` keeps each key's final
    emission — the row with the largest ``counter``, which only grows."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    if latest is None:
        return out
    key, counter = latest
    w = Window.partitionBy(key).orderBy(F.col(counter).desc())
    return (
        out.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )


@query("streaming_tumbling_1h")  # rows-only: streaming not oracle-expressible
def streaming_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows per event type with a 1h watermark, executed as a
    stream drained with availableNow. Semantics pinned by
    tests/test_streaming.py: equal to the batch events_tumbling_1h."""
    stream = _events_stream(spark, sf_dir)
    windowed = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
                "sum_value"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(windowed, spark)


@query("streaming_user_state")  # rows-only: custom stateful operator
def streaming_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running profile (event count, value sum, last seen ts) kept
    in explicit state — the escape hatch for stateful logic Spark's built-in
    windows can't express. Semantics pinned by tests/test_streaming.py
    (totals equal the batch per-user aggregate)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
            StructField("last_us", LongType()),
        ]
    )

    def update(key, batches, state: GroupState):
        n, s, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in batches:
            n += len(pdf)
            s += float(pdf["value"].sum())
            last_us = max(last_us, int(pdf["ts"].astype("int64").max()) // 1000)
        state.update((n, s, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(s, 2)],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    stream = _events_stream(spark, sf_dir)
    profiled = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(profiled, spark, "update", ("user_id", "n_events"))


@query("streaming_session_30m")  # rows-only
def streaming_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful session windows (30m gap) per user on the stream — Spark's
    native stateful session operator under a watermark."""
    stream = _events_stream(spark, sf_dir)
    windowed = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
                "sum_value"
            ),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(windowed, spark)


@query("streaming_dedup_events")  # rows-only: streaming state not in SQL
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup feeding an aggregate: drop duplicate
    (user_id, event_type) arrivals under a 1-hour watermark, then count
    unique users per event type — two chained stateful operators (dedup
    state + agg state), the shape of a streaming ingest pipeline that must
    not double-count replayed events.

    Dedup state is keyed on (user_id, event_type) and expired by the
    watermark; at scale this is RocksDB-backed like the session/window
    state (SCALE.md §Streaming). Semantics pinned by tests/test_streaming.py
    against the batch distinct-count.
    """
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
    )
    return _drain_to_memory(deduped, spark)


def _click_attribution(
    spark: SparkSession, sf_dir: str, purchase_value: Column
) -> DataFrame:
    """The clicks⋈purchases interval join behind both click-attribution
    queries, drained in append mode (joins emit no retractions);
    ``purchase_value`` is each query's own expression over the raw
    ``purchase_value`` column."""
    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_ts",
        purchase_value.alias("purchase_value"),
    )
    return _drain_to_memory(joined, spark, "append")


@query("streaming_click_attribution")  # rows-only: stream-stream join state
def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase attributed to the same
    user's clicks in the preceding 30 minutes — both sides are unbounded
    streams, so Spark buffers each side in watermark-bounded join state
    (the flagship Structured Streaming capability the batch range join
    can't express over live data).

    The time-bound predicate is what makes the state finite: with both
    watermarks at 1 hour and the interval at 30 minutes, rows age out of
    the buffer deterministically. Semantics pinned by
    tests/test_streaming.py against the identical batch join.
    """
    return _click_attribution(
        spark, sf_dir, F.round(F.col("purchase_value"), 2)
    )


@query("streaming_nation_activity")  # rows-only: streaming not in SQL oracle
def streaming_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join + event-time window: the live events stream
    enriched against the static customer→nation dimension chain, then
    aggregated per nation over tumbling 1-hour windows behind a watermark
    — the canonical "enrich the firehose with reference data" pipeline
    stage (the static side is re-read per micro-batch and broadcast; no
    stream-side state beyond the window aggregation).

    Semantics pinned by tests/test_streaming.py: equal to the identical
    batch join+window (events ⋈ customer ⋈ nation → F.window agg).
    """
    from databricks_spark_sql_challenge1_spark.catalog import load_table

    stream = _events_stream(spark, sf_dir)
    dims = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
        .join(
            load_table(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("c_nationkey"),
                F.col("n_name").alias("nation"),
            ),
            "c_nationkey",
        )
        .select("user_id", "nation")
    )
    windowed = (
        stream.withWatermark("ts", "1 hour")
        .join(dims, "user_id")  # stream-static equi-join
        .groupBy(F.window("ts", "1 hour"), "nation")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
                "sum_value"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "nation",
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(windowed, spark)


@query("streaming_incremental_dedup")  # rows-only: streaming not in oracle
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup admission control — the live variant of
    ``dedup_incremental``: incoming documents stream in, each is SimHash-
    signed ON THE STREAM SIDE as a pure expression pipeline (array fold
    over distinct tokens — zero stream-side shuffle to sign a doc), and
    band-joined stream-static against the ingested corpus's signatures;
    flagged docs emit (doc_id, n_near_dups).

    Two streaming-specific shapes worth noting:
    - the signature is computed WITHOUT the batch path's groupBy (an
      aggregation before a join would chain stateful operators); the
      token hashes and bit algebra are the batch ones (``_limb_hashes``,
      ``_simhash_bits``) folded with ``aggregate`` instead of ``sum``, so
      signatures match the batch ``text_simhash`` bit-for-bit;
    - a pair agreeing on several bands would need a streaming ``distinct``
      (unsupported distinct-aggregation) — instead the one band join
      (``dedup._simhash_band_join``) keeps exactly one row per (inc, ex)
      pair by its first-agreeing-band rule, so the final count is a plain
      streaming aggregate.

    At scale: the static band index is the precomputed bucketed table the
    daily firehose joins against; state is only the per-doc running count
    behind the complete-mode aggregate (production: append mode keyed by
    ingest batch). Batch equivalence pinned in tests/test_streaming.py
    against ``dedup_incremental``'s flagged subset.
    """
    from databricks_spark_sql_challenge1_spark.catalog import load_table
    from databricks_spark_sql_challenge1_spark.operators.dedup import (
        INCREMENTAL_MOD,
        SIMHASH_LAYOUTS,
        _distinct_token_md5,
        _limb_hashes,
        _simhash_band_join,
        _simhash_bits,
        _simhash_sig,
    )

    stream = _table_stream(spark, sf_dir, "documents")
    # narrow32 signed per row: the batch token hash and bit algebra, folded
    # over each doc's distinct-token hash array by aggregate()
    n_bits = 4 * SIMHASH_LAYOUTS["narrow32"][0][1]
    toks = F.array_distinct(ws_tokens())
    inc_sig = (
        stream.where(F.col("doc_id") % INCREMENTAL_MOD == 0)
        .select(
            "doc_id",
            F.transform(toks, lambda t: _limb_hashes(F.md5(t), "narrow32")[0])
            .alias("hs"),
        )
        .select(
            "doc_id",
            F.expr(
                _simhash_bits(n_bits, "h", "aggregate(hs, 0L, (acc, h) -> acc + {})")
            ).alias("s0"),
        )
    )
    docs = load_table(spark, sf_dir, "documents", spread=True)
    existing = _simhash_sig("narrow32", _distinct_token_md5(docs)).where(
        F.col("doc_id") % INCREMENTAL_MOD != 0
    )
    flagged = (
        _simhash_band_join("narrow32", inc_sig, existing)
        .groupBy(F.col("doc_1").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_near_dups"))
    )
    return _drain_to_memory(flagged, spark)


GAP_ALERT_US = 3_600_000_000  # 1 hour


@query("streaming_gap_monitor")  # rows-only: custom stateful operator
def streaming_gap_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful inter-event gap monitor via ``applyInPandasWithState`` —
    the streaming analog of ``events_gapfill_stats``'s longest-gap metric:
    per user, carry the last event timestamp in state, diff each arriving
    batch against it, and keep the running maximum gap plus the count of
    gaps exceeding GAP_ALERT_US (1 h) — the liveness/SLA signal a feed
    monitor alerts on. Semantics pinned against the batch lag() equivalent
    in tests/test_streaming.py.

    State is one (last_us, max_gap, n_alerts, n) tuple per user —
    watermark-free but O(users) bounded, the same state posture as the
    running-profile operator above.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_gap_us", LongType()),
            StructField("n_gaps_over_1h", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_us", LongType()),
            StructField("max_gap", LongType()),
            StructField("n_alerts", LongType()),
            StructField("n", LongType()),
        ]
    )

    def update(key, batches, state: GroupState):
        last_us, max_gap, n_alerts, n = (
            state.get if state.exists else (-1, 0, 0, 0)
        )
        ts_us = pd.concat(
            [pdf["ts"].astype("int64") // 1000 for pdf in batches]
        ).sort_values()
        n += len(ts_us)
        for t in ts_us:
            t = int(t)
            if last_us >= 0:
                gap = t - last_us
                max_gap = max(max_gap, gap)
                if gap > GAP_ALERT_US:
                    n_alerts += 1
            last_us = t
        state.update((last_us, max_gap, n_alerts, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_gap_us": [max_gap],
                "n_gaps_over_1h": [n_alerts],
            }
        )

    stream = _events_stream(spark, sf_dir)
    monitored = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(
        monitored, spark, "update", ("user_id", "n_events")
    ).orderBy(F.col("user_id").asc())
